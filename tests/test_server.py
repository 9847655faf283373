"""HTTP front-end tests: ES banner, bulk ingest round trip (plain + gzip),
search with totals, status, per-item error statuses."""

import gzip
import json
import urllib.request

import pytest

from seqspark import Mapping
from seqspark.server import SeqSparkServer
from seqspark.store import DocStore

BIG = 10**15
MAPPING = Mapping({"service": "keyword", "message": "text"})


@pytest.fixture()
def server(spark, tmp_path):
    store = DocStore(spark, str(tmp_path / "store"))
    srv = SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG
    ).start()
    yield srv
    srv.stop()


def _get(srv, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{srv.port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(srv, path, body: bytes, headers=None):
    req = urllib.request.Request(
        f"http://127.0.0.1:{srv.port}{path}", data=body, headers=headers or {}
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


BULK = "\n".join(
    [
        '{"index": {}}',
        '{"timestamp": "2024-01-01 10:00:00.000", "service": "auth", "message": "login ok"}',
        '{"create": {}}',
        '{"timestamp": "2024-01-01 11:00:00.000", "service": "pay", "message": "charge done"}',
        '{"delete": {"_id": "3"}}',
    ]
).encode()


def test_banner(server):
    code, body = _get(server, "/")
    assert code == 200
    assert body["tagline"] == "You Know, for Search"


def test_bulk_search_status_roundtrip(server):
    code, body = _post(server, "/_bulk", BULK)
    assert code == 200
    assert body["errors"] is True  # the delete item is rejected
    statuses = [list(i.values())[0]["status"] for i in body["items"]]
    assert statuses == [201, 201, 400]

    code, res = _post(
        server,
        "/search",
        json.dumps({"query": "service:auth", "with_total": True}).encode(),
    )
    assert code == 200
    assert res["total"] == 1
    assert len(res["docs"]) == 1
    assert json.loads(res["docs"][0]["data"])["service"] == "auth"

    code, st = _get(server, "/status")
    assert code == 200
    assert st["docs"] == 2
    assert st["fields"] == {"service": "keyword", "message": "text"}


def test_bulk_gzip(server):
    code, body = _post(
        server,
        "/_bulk",
        gzip.compress(b'{"index": {}}\n{"service": "auth", "message": "zipped"}\n'),
        headers={"Content-Encoding": "gzip"},
    )
    assert code == 200 and not body["errors"]
    code, res = _post(server, "/search", json.dumps({"query": "message:zipped"}).encode())
    assert len(res["docs"]) == 1


def test_complex_and_fetch_endpoints(server):
    _post(server, "/_bulk", BULK)
    code, res = _post(
        server,
        "/complex",
        json.dumps(
            {
                "query": "*",
                "with_total": True,
                "hist_interval_ms": 3600_000,
                "aggs": [{"func": "count", "field": "service"}],
                "size": 10,
            }
        ).encode(),
    )
    assert code == 200
    assert res["total"] == 2
    assert len(res["docs"]) == 2
    assert sum(res["histogram"].values()) == 2
    counts = {b["name"]: b["value"] for b in res["aggs"][0]}
    assert counts == {"auth": 1.0, "pay": 1.0}

    ids = [[d["mid"], d["rid"]] for d in res["docs"][:1]]
    code, fres = _post(server, "/fetch", json.dumps({"ids": ids}).encode())
    assert code == 200
    assert len(fres["docs"]) == 1
    assert fres["docs"][0]["mid"] == ids[0][0]


def test_bad_query_is_400(server):
    _post(server, "/_bulk", BULK)
    code, res = _post(server, "/search", json.dumps({"query": "unmapped_field:x"}).encode())
    assert code == 400
    assert "not indexed" in res["error"]


def test_unknown_path_404(server):
    code, _ = _get(server, "/nope")
    assert code == 404


def test_slow_search_logged(spark, tmp_path, caplog):
    import logging

    store = DocStore(spark, str(tmp_path / "slow_store"))
    srv = SeqSparkServer(
        spark, store, MAPPING,
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        log_search_threshold_ms=1,   # every real search is "slow"
        log_bulk_threshold_ms=1,     # every real bulk is "slow"
        log_fetch_threshold_ms=1,    # every real fetch is "slow"
    ).start()
    try:
        with caplog.at_level(logging.WARNING, logger="seqspark.server"):
            _post(srv, "/_bulk", BULK)
            _post(srv, "/search", json.dumps({"query": "service:auth"}).encode())
            _post(srv, "/fetch", json.dumps({"ids": [[0, 0]]}).encode())
        msgs = [r.message for r in caplog.records]
        assert any("slow search" in m for m in msgs)
        assert any("slow bulk" in m for m in msgs)
        assert any("slow fetch" in m for m in msgs)
    finally:
        srv.stop()


def test_slow_logs_disabled_at_zero(spark, tmp_path, caplog):
    """Threshold 0 DISABLES the log — the reference's semantics
    (`storeapi/grpc_search.go:169` checks `!= 0` first)."""
    import logging

    store = DocStore(spark, str(tmp_path / "quiet_store"))
    srv = SeqSparkServer(
        spark, store, MAPPING,
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        log_search_threshold_ms=0, log_bulk_threshold_ms=0,
        log_fetch_threshold_ms=0,
    ).start()
    try:
        with caplog.at_level(logging.WARNING, logger="seqspark.server"):
            _post(srv, "/_bulk", BULK)
            _post(srv, "/search", json.dumps({"query": "service:auth"}).encode())
            _post(srv, "/fetch", json.dumps({"ids": [[0, 0]]}).encode())
        assert not any("slow" in r.message for r in caplog.records)
    finally:
        srv.stop()


def test_gateway_degenerate_duration_is_400(server):
    # {"retention": ""} must be rejected like the protobuf JSON codec
    # does, not silently parsed as 0s (which would drop the caller's
    # intent and store the search under the default retention)
    win = {"from": "2020-01-01T00:00:00Z", "to": "2100-01-01T00:00:00Z"}
    for bad in ("", "s", "--5s", "5"):
        code, out = _post(server, "/async-search", json.dumps(
            {"retention": bad, "query": {"query": "*", **win}}).encode())
        assert code == 400, (bad, out)
    code, out = _post(server, "/async-search", json.dumps(
        {"retention": "2.5s", "query": {"query": "*", **win}}).encode())
    assert code == 200 and out.get("searchId"), out


def test_gateway_fuzz_never_drops_connection(server):
    """Seeded random JSON (wrong shapes, wrong types, nested garbage,
    non-JSON bytes) against every gateway route: the server must always
    answer an HTTP response with a JSON body — malformed input is a
    request-shaped 4xx, never an aborted connection or a handler 500
    with a traceback body — and must still serve real queries after.
    The reference gets this from grpc-gateway's transcoder; ours is
    hand-rolled (`seqspark/gateway.py`), so pin it here."""
    import random

    rng = random.Random(20260815)

    def rand_json(depth=0):
        kinds = ["int", "float", "str", "bool", "none", "list", "dict"]
        k = rng.choice(kinds if depth < 3 else kinds[:5])
        if k == "int":
            return rng.randint(-(2**70), 2**70)  # incl. out-of-int64
        if k == "float":
            return rng.choice([0.0, -1.5, 1e308, 3.14])
        if k == "str":
            return rng.choice(
                ["", "*", "a:b", "2024-01-01T00:00:00Z", "not-a-time",
                 "message:msg", "\x00 weird", "ORDER_ASC", "9" * 40]
            )
        if k == "bool":
            return rng.random() < 0.5
        if k == "none":
            return None
        if k == "list":
            return [rand_json(depth + 1) for _ in range(rng.randint(0, 3))]
        return {
            rng.choice(["query", "from", "to", "size", "offset", "aggs",
                        "hist", "field", "func", "order", "withTotal",
                        "retention", "interval", "quantiles", "x"]):
            rand_json(depth + 1)
            for _ in range(rng.randint(0, 4))
        }

    routes = ["/search", "/complex-search", "/aggregate", "/histogram",
              "/export", "/async-search", "/fetch"]
    for i in range(120):
        path = rng.choice(routes)
        if i % 10 == 9:
            body = bytes(rng.getrandbits(8) for _ in range(rng.randint(0, 60)))
        else:
            body = json.dumps(rand_json()).encode()
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}{path}", data=body
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as r:
                code, raw = r.status, r.read()
        except urllib.error.HTTPError as e:
            code, raw = e.code, e.read()
        # every answer is an HTTP status with a JSON body (export
        # streams NDJSON: each line is JSON); malformed input must be
        # request-shaped (4xx) — a 500 means a handler exception leaked
        assert code < 500, (path, body, code)
        for line in raw.splitlines() or [b"{}"]:
            json.loads(line)

    # GET/DELETE garbage ids on the REST async route
    for method in ("GET", "DELETE"):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}/async-search/%00junk!",
            method=method,
        )
        try:
            with urllib.request.urlopen(req, timeout=60) as r:
                code, raw = r.status, r.read()
        except urllib.error.HTTPError as e:
            code, raw = e.code, e.read()
        assert code in range(200, 600)
        json.loads(raw)

    # still alive and correct afterward
    _post(server, "/_bulk", BULK)
    code, out = _post(server, "/search", json.dumps(
        {"query": {"query": "*", "from": "2000-01-01T00:00:00Z",
                   "to": "2100-01-01T00:00:00Z"},
         "size": 10, "withTotal": True}).encode())
    assert code == 200 and out["total"] == "2", out


def test_log_level_endpoint(server):
    # `/log/level` mirrors zap's http_handler (debug-server.md): GET
    # reports, PUT swaps at runtime, bad input is a 400 not a default
    import logging as _logging

    def _put(path, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{server.port}{path}", data=body, method="PUT"
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status, json.loads(r.read())
        except urllib.error.HTTPError as e:
            return e.code, json.loads(e.read())

    pkg = _logging.getLogger("seqspark")
    before = pkg.level
    try:
        code, body = _get(server, "/log/level")
        assert code == 200 and body["level"] in (
            "debug", "info", "warn", "error", "fatal"
        )

        code, body = _put("/log/level", b'{"level": "debug"}')
        assert (code, body["level"]) == (200, "debug")
        assert pkg.getEffectiveLevel() == _logging.DEBUG
        code, body = _get(server, "/log/level")
        assert (code, body["level"]) == (200, "debug")

        code, body = _put("/log/level", b'{"level": "warn"}')
        assert (code, body["level"]) == (200, "warn")
        assert pkg.getEffectiveLevel() == _logging.WARNING

        # rejects: unknown name, missing key, malformed JSON, wrong verb
        code, body = _put("/log/level", b'{"level": "loud"}')
        assert code == 400 and "unrecognized" in body["error"]
        code, body = _put("/log/level", b"{}")
        assert code == 400 and "level" in body["error"]
        code, body = _put("/log/level", b"not json")
        assert code == 400
        code, body = _post(server, "/log/level", b'{"level": "info"}')
        assert code == 405
        # zap's http_handler 405s EVERY non-GET/PUT verb
        for method in ("DELETE", "PATCH", "OPTIONS"):
            req = urllib.request.Request(
                f"http://127.0.0.1:{server.port}/log/level", method=method
            )
            try:
                with urllib.request.urlopen(req) as r:
                    code = r.status
            except urllib.error.HTTPError as e:
                code, _ = e.code, json.loads(e.read())
            assert code == 405, method
        # the failed writes left the level untouched
        assert pkg.getEffectiveLevel() == _logging.WARNING
    finally:
        pkg.setLevel(before)


def test_debug_server_surface(server):
    # `docs/en/internal/debug-server.md`: /metrics, /live, /readiness
    code, body = _get(server, "/live")
    assert (code, body["status"]) == (200, "ok")
    code, body = _get(server, "/readiness")
    assert (code, body["status"]) == (200, "ready")

    # drive one bulk and one search, then read the counters back
    _post(server, "/_bulk", BULK)
    _post(server, "/search", b'{"query": "*"}')
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/metrics"
    ) as r:
        assert r.status == 200
        assert r.headers["Content-Type"].startswith("text/plain")
        text = r.read().decode()
    metrics = {
        line.split(" ")[0]: line.rsplit(" ", 1)[1]
        for line in text.splitlines()
        if line and not line.startswith("#")
    }
    assert metrics["seqspark_bulk_total"] == "1"
    assert metrics["seqspark_search_total"] == "1"
    assert metrics["seqspark_bulk_errors_total"] == "0"
    assert metrics["seqspark_bulk_docs_total"] == "2"  # the delete indexes 0
    assert metrics["seqspark_bulk_flushes_total"] == "1"
    assert metrics["seqspark_bulk_flushed_bulks_total"] == "1"
    assert 'seqspark_bulk_circuit_open{state="closed"} 0' in text


def test_export_streams_ndjson(server):
    # /Export: Search's streaming twin (`docs/en/10-public-api.md`)
    _post(server, "/_bulk", BULK)
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/export",
        data=json.dumps({"query": "*", "order": "asc"}).encode(),
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        assert r.headers["Content-Type"] == "application/x-ndjson"
        lines = [json.loads(l) for l in r.read().decode().splitlines()]
    # a COMPLETE stream ends with the `{"end": true}` sentinel — its
    # absence tells the client the stream was truncated mid-drain
    sentinel = lines.pop()
    assert sentinel == {"end": True, "rows": 2}
    assert len(lines) == 2  # the delete action indexes nothing
    for line in lines:
        doc = line["doc"]
        assert "-" in doc["id"] and doc["time"].endswith("Z")
        # the time label is epoch-derived UTC: it must round-trip to the
        # mid half of the id regardless of server timezone
        import datetime as dt

        mid = int(doc["id"].split("-")[0])
        parsed = dt.datetime.fromisoformat(doc["time"].replace("Z", "+00:00"))
        assert int(parsed.timestamp() * 1000) == mid
    payloads = [json.loads(l["doc"]["data"]) for l in lines]
    assert [p["service"] for p in payloads] == ["auth", "pay"]  # asc order


def test_export_truncation_is_detectable(server):
    # kill the row iterator mid-stream: the client must NOT see the end
    # sentinel, and the failure must count in search_errors_total
    _post(server, "/_bulk", BULK)

    def broken_lines(req):
        def gen():
            yield json.dumps({"doc": {"id": "1-1", "data": "{}", "time": "x"}})
            raise RuntimeError("executor lost")

        return gen()

    server.export_lines = broken_lines
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/export",
        data=json.dumps({"query": "*"}).encode(),
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        raw = r.read().decode()
    lines = [json.loads(l) for l in raw.splitlines()]
    assert lines, "one doc line was flushed before the failure"
    assert all("end" not in l for l in lines)  # no sentinel → truncated
    with urllib.request.urlopen(
        f"http://127.0.0.1:{server.port}/metrics"
    ) as r:
        text = r.read().decode()
    assert "seqspark_search_errors_total 1" in text


def test_export_bad_query_is_400(server):
    _post(server, "/_bulk", BULK)
    code, body = _post(server, "/export", b'{"query": "service:("}')
    assert code == 400 and "error" in body


def test_mirror_forwards_search(spark, tmp_path):
    import time as _time

    mirror_store = DocStore(spark, str(tmp_path / "mirror"))
    mirror = SeqSparkServer(
        spark, mirror_store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG
    ).start()
    primary_store = DocStore(spark, str(tmp_path / "primary"))
    primary = SeqSparkServer(
        spark, primary_store, MAPPING,
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        mirror_url=f"http://127.0.0.1:{mirror.port}",
    ).start()
    try:
        _post(primary, "/_bulk", BULK)
        _post(mirror, "/_bulk", BULK)
        code, _ = _post(primary, "/search", b'{"query": "*"}')
        assert code == 200
        # fire-and-forget: the mirror sees the same search shortly after
        for _ in range(100):
            if mirror._counters["search_total"] >= 1:
                break
            _time.sleep(0.1)
        assert mirror._counters["search_total"] >= 1
    finally:
        primary.stop()
        mirror.stop()


def test_use_seq_ql_header_selects_dialect(server):
    """`use-seq-ql: false` routes through the legacy parser
    (`storeapi/grpc_search.go:206-216`); absent header keeps seq-ql."""
    _post(server, "/_bulk", BULK)
    # legacy dialect: uppercase OR, no pipes
    code, res = _post(
        server,
        "/search",
        json.dumps({"query": "service: auth OR service: pay"}).encode(),
        headers={"use-seq-ql": "false"},
    )
    assert code == 200 and len(res["docs"]) == 2
    # a pipe is seq-ql-only: legacy mode rejects it, seq-ql mode runs it
    code, _ = _post(
        server,
        "/search",
        json.dumps({"query": "service:auth | fields service"}).encode(),
        headers={"use-seq-ql": "false"},
    )
    assert code == 400
    code, res = _post(
        server,
        "/search",
        json.dumps({"query": "service:auth | fields service"}).encode(),
        headers={"use-seq-ql": "true"},
    )
    assert code == 200 and len(res["docs"]) == 1
    code, res = _post(
        server,
        "/search",
        json.dumps({"query": "service:auth", "with_total": True}).encode(),
    )
    assert code == 200 and res["total"] == 1


def test_fetch_fields_filter(server):
    """FieldsFilter on /fetch (`storeapi/grpc_fetch.go:170-216`):
    allow-list keeps only the named top-level JSON fields, block-list
    removes them."""
    _post(server, "/_bulk", BULK)
    code, res = _post(server, "/search", json.dumps({"query": "service:auth"}).encode())
    ids = [[d["mid"], d["rid"]] for d in res["docs"]]
    code, res = _post(
        server, "/fetch", json.dumps({"ids": ids, "fields": ["service"]}).encode()
    )
    assert code == 200
    doc = json.loads(res["docs"][0]["data"])
    assert doc == {"service": "auth"}
    code, res = _post(
        server,
        "/fetch",
        json.dumps({"ids": ids, "fields": ["service"], "except": True}).encode(),
    )
    doc = json.loads(res["docs"][0]["data"])
    assert "service" not in doc and "message" in doc


def test_search_explain_flag(server):
    """`explain: true` attaches the AST + plan trace to the response
    (`proxyapi/grpc_v1.go:228` Explain)."""
    _post(server, "/_bulk", BULK)
    code, res = _post(
        server,
        "/search",
        json.dumps({"query": "service:auth", "explain": True}).encode(),
    )
    assert code == 200
    # r16: the explain leads with the plan that served the request
    assert res["explain"].startswith("Route: scan\nQuery: service:auth")
    assert "AST: " in res["explain"]
    assert "Physical Plan" in res["explain"]
    # absent by default
    code, res = _post(server, "/search", json.dumps({"query": "service:auth"}).encode())
    assert "explain" not in res


def test_complex_explain_flag(server):
    _post(server, "/_bulk", BULK)
    code, res = _post(
        server,
        "/complex",
        json.dumps({"query": "*", "with_total": True, "explain": True}).encode(),
    )
    assert code == 200 and res["explain"].startswith("Query: *")
    # with docs it leads with the route that served them, like /search
    code, res = _post(server, "/complex", json.dumps(
        {"query": "*", "size": 1, "explain": True}).encode())
    assert code == 200 and res["explain"].startswith("Route: scan\nQuery: *")


def test_complex_honours_max_search_docs(server):
    from seqspark.engine import MAX_SEARCH_DOCS

    _post(server, "/_bulk", BULK)
    for path in ("/search", "/complex"):
        code, res = _post(server, path, json.dumps(
            {"query": "*", "size": MAX_SEARCH_DOCS + 1}).encode())
        assert code == 400, path
        assert "exceeds max-search-docs" in res["error"], path


def test_search_and_complex_size_zero_shapes(server):
    """/search with size 0 still answers docs (empty), plus the total
    when asked for; /complex with nothing requested is still a 400."""
    _post(server, "/_bulk", BULK)
    code, res = _post(server, "/search", json.dumps(
        {"query": "*", "size": 0}).encode())
    assert (code, res) == (200, {"docs": []})
    code, res = _post(server, "/search", json.dumps(
        {"query": "*", "size": 0, "with_total": True}).encode())
    assert (code, res) == (200, {"docs": [], "total": 2})
    code, res = _post(server, "/search", json.dumps(
        {"query": "service:auth", "size": 5, "with_total": True}).encode())
    assert code == 200 and set(res) == {"docs", "total"}
    assert res["total"] == len(res["docs"]) == 1
    # a malformed query is a 400 even when nothing is computed
    code, _ = _post(server, "/search", json.dumps(
        {"query": "service:(", "size": 0}).encode())
    assert code == 400
    code, res = _post(server, "/complex", json.dumps({"query": "*"}).encode())
    assert code == 400
    assert res["error"] == (
        "complex search requires size > 0, with_total, a histogram "
        "interval or at least one aggregation")


def test_use_seq_ql_go_parsebool_values(server):
    """Go strconv.ParseBool truth values ('1', 't', 'True') must select
    seq-ql; invalid values fall through to legacy like the reference's
    ignored parse error."""
    _post(server, "/_bulk", BULK)
    piped = json.dumps({"query": "service:auth | fields service"}).encode()
    for val in ("1", "t", "True", "TRUE"):
        code, _ = _post(server, "/search", piped, headers={"use-seq-ql": val})
        assert code == 200, val
    for val in ("0", "f", "False", "bogus"):
        code, _ = _post(server, "/search", piped, headers={"use-seq-ql": val})
        assert code == 400, val


def test_non_object_body_is_400(server):
    for path in ("/search", "/export", "/complex"):
        code, res = _post(server, path, b"[1, 2]", headers={"use-seq-ql": "false"})
        assert code == 400, path
        assert "JSON object" in res["error"]


def test_export_malformed_json_is_400(server):
    code, res = _post(server, "/export", b"{bad json", headers={"use-seq-ql": "false"})
    assert code == 400 and "error" in res


def _wait_async_done(srv, sid, tries=120):
    import time as _t

    for _ in range(tries):
        code, res = _post(
            srv, "/async/fetch", json.dumps({"search_id": sid}).encode()
        )
        assert code == 200, res
        if res["done"] or res["status"] == "error":
            return res
        _t.sleep(0.5)
    raise AssertionError("async job never finished")


def test_async_search_http_lifecycle(server):
    """/async/start -> /async/fetch (poll to done, page within the stored
    result) -> /async/list — the HTTP analog of
    proxyapi/grpc_async_search.go StartAsyncSearch/FetchAsyncSearchResult."""
    _post(server, "/_bulk", BULK)
    code, res = _post(
        server,
        "/async/start",
        json.dumps({
            "query": "*", "size": 10, "with_total": True,
            "aggs": [{"func": "count", "field": "service"}],
        }).encode(),
        headers={"use-seq-ql": "true"},
    )
    assert code == 200 and "search_id" in res
    sid = res["search_id"]
    done = _wait_async_done(server, sid)
    assert done["status"] == "done" and done["done"]
    assert done["expiration_ms"] > 0
    resp = done["response"]
    assert resp["total"] == 2 and len(resp["docs"]) == 2
    assert {b["name"] for b in resp["aggs"][0]} == {"auth", "pay"}
    # paging within the persisted result
    code, page = _post(server, "/async/fetch", json.dumps(
        {"search_id": sid, "size": 1, "offset": 1}).encode())
    assert len(page["response"]["docs"]) == 1
    assert page["response"]["docs"][0] == resp["docs"][1]
    # with_docs=False omits docs but keeps aggs
    code, nodocs = _post(server, "/async/fetch", json.dumps(
        {"search_id": sid, "with_docs": False}).encode())
    assert nodocs["response"]["docs"] == [] and nodocs["response"]["aggs"]
    # list surfaces the job
    code, lst = _get(server, "/async/list")
    assert sid in [j["job_id"] for j in lst["searches"]]
    # unknown id -> 404
    code, _res = _post(server, "/async/fetch", json.dumps(
        {"search_id": "nope"}).encode())
    assert code == 404


def test_async_search_error_and_bad_query(server):
    _post(server, "/_bulk", BULK)
    code, res = _post(server, "/async/start", json.dumps(
        {"query": "service:("}).encode(), headers={"use-seq-ql": "true"})
    assert code == 200  # start succeeds; the failure is the JOB's status
    done = _wait_async_done(server, res["search_id"])
    assert done["status"] == "error" and not done["done"]
    assert done["error"]


def test_async_search_restart_resume_http(spark, tmp_path):
    """A job persisted as running when the process died is re-executed from
    its stored request by a NEW server over the same store dir
    (`fracmanager/async_searcher.go:77-82`)."""
    import os

    store = DocStore(spark, str(tmp_path / "store"))
    srv = SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG
    ).start()
    try:
        _post(srv, "/_bulk", BULK)
        code, res = _post(srv, "/async/start", json.dumps(
            {"query": "service:auth", "size": 5}).encode(),
            headers={"use-seq-ql": "true"})
        sid = res["search_id"]
        done = _wait_async_done(srv, sid)
        assert done["status"] == "done"
        # simulate a crash mid-run: meta says running, thread registry empty
        meta_path = os.path.join(
            str(tmp_path / "store"), "_async_search", sid, "meta.json"
        )
        with open(meta_path) as f:
            meta = json.load(f)
        meta["status"] = "running"
        with open(meta_path, "w") as f:
            json.dump(meta, f)
    finally:
        srv.stop()

    srv2 = SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG
    ).start()
    try:
        assert srv2.resume_async() == [sid]
        done = _wait_async_done(srv2, sid)
        assert done["status"] == "done"
        assert len(done["response"]["docs"]) == 1
        assert json.loads(done["response"]["docs"][0]["data"])["service"] == "auth"
    finally:
        srv2.stop()


def test_search_null_size_is_default_not_unbounded(server):
    """An explicit JSON null size/offset is the same as an absent field —
    it must NOT reach the engine as size=None (unbounded export mode) and
    collect the entire match set onto the driver."""
    _post(server, "/_bulk", BULK)
    code, res = _post(
        server,
        "/search",
        json.dumps({"query": "*", "size": None, "offset": None}).encode(),
    )
    assert code == 200
    assert len(res["docs"]) <= 100
    # /complex: null size means the default 0 docs, not a full drain
    code, res = _post(
        server,
        "/complex",
        json.dumps({"query": "*", "size": None, "with_total": True}).encode(),
    )
    assert code == 200
    assert "docs" not in res or res["docs"] == []


def test_bulk_bad_request_is_400_and_never_opens_circuit(server):
    """Corrupt gzip is a client-shaped 400, not a backend failure: one
    misbehaving shipper must not open the ingest circuit breaker and shed
    every other shipper's bulks."""
    for _ in range(8):  # well past DEFAULT_VOLUME_THRESHOLD
        code, body = _post(
            server, "/_bulk", b"\x1f\x8b\x08garbage-not-gzip",
            headers={"Content-Encoding": "gzip"},
        )
        assert code == 400 and "gzip" in body["error"]
    assert server._breaker.state == "closed"
    code, _ = _post(server, "/_bulk", BULK)  # healthy ingest still admitted
    assert code == 200


def test_bulk_oversized_declared_body_is_413(server):
    """A client-declared Content-Length above the body cap is rejected
    BEFORE the server buffers anything."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
    try:
        conn.putrequest("POST", "/_bulk")
        conn.putheader("Content-Length", str(1 << 30))
        conn.endheaders()
        resp = conn.getresponse()  # answered without reading the body
        assert resp.status == 413
    finally:
        conn.close()


def test_malformed_content_length_is_400(server):
    """A non-numeric (or negative) Content-Length must produce a 400 JSON
    error, not an unhandled handler exception / connection abort."""
    import http.client

    for bad in ("banana", "-5", "1e3"):
        conn = http.client.HTTPConnection("127.0.0.1", server.port,
                                          timeout=30)
        try:
            conn.putrequest("POST", "/_bulk", skip_host=False)
            conn.putheader("Content-Length", bad)
            conn.endheaders()
            resp = conn.getresponse()
            assert resp.status == 400, bad
            assert b"Content-Length" in resp.read()
        finally:
            conn.close()


def test_export_honors_offset(server):
    """ExportRequest carries an offset (`seq_proxy_api.proto` field 3,
    `grpc_export.go:47`): resuming an export must not restart from row 0."""
    _post(server, "/_bulk", BULK)
    rows_all = list(server.export_docs({"query": "*", "order": "asc"}))
    assert len(rows_all) == 2
    rows_off = list(
        server.export_docs({"query": "*", "order": "asc", "offset": 1})
    )
    assert rows_off == rows_all[1:]


def test_fetch_is_not_mirrored(spark, tmp_path):
    """The reference mirrors only its shared search path (`grpc_v1.go:291`)
    — never Fetch. Both transports must agree."""
    import time as _time

    mirror_store = DocStore(spark, str(tmp_path / "mirror2"))
    mirror = SeqSparkServer(
        spark, mirror_store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG
    ).start()
    primary_store = DocStore(spark, str(tmp_path / "primary2"))
    primary = SeqSparkServer(
        spark, primary_store, MAPPING,
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        mirror_url=f"http://127.0.0.1:{mirror.port}",
    ).start()
    try:
        _post(primary, "/_bulk", BULK)
        code, _ = _post(primary, "/fetch", b'{"ids": []}')
        assert code == 200
        _time.sleep(0.5)  # a mirrored request would land well within this
        assert mirror._counters.get("search_total", 0) == 0
    finally:
        primary.stop()
        mirror.stop()


def test_bulk_group_commit_coalesces_concurrent_bulks(server):
    """Bulks that arrive while an append's Spark job is running flush
    together in ONE partitioned write (group commit) — and every bulk
    still returns only after its own rows are durable."""
    import threading
    import time as _time

    calls = []
    orig = server.store.append
    first_flush = threading.Event()

    def slow_append(df, **kw):
        calls.append(1)
        if len(calls) == 1:
            first_flush.set()
            # hold the first flush until all 5 others are QUEUED (event-
            # gated, not wall-clock — a fixed sleep is flaky under load)
            deadline = _time.time() + 30
            while _time.time() < deadline:
                with server._gc_lock:
                    if len(server._gc_pending) >= 5:
                        break
                _time.sleep(0.01)
        return orig(df, **kw)

    server.store.append = slow_append
    try:
        def mk(i):
            return "\n".join(
                [
                    '{"index": {}}',
                    json.dumps(
                        {
                            "timestamp": "2024-01-01 10:00:00.000",
                            "service": f"s{i}",
                            "message": f"m {i}",
                        }
                    ),
                ]
            ).encode()

        codes = []
        lock = threading.Lock()

        def ship(i):
            code, _ = _post(server, "/_bulk", mk(i))
            with lock:
                codes.append(code)

        t0 = threading.Thread(target=ship, args=(0,))
        t0.start()
        assert first_flush.wait(30)
        rest = [
            threading.Thread(target=ship, args=(i,)) for i in range(1, 6)
        ]
        for t in rest:
            t.start()
        for t in [t0, *rest]:
            t.join()
    finally:
        server.store.append = orig
    assert codes == [200] * 6
    assert len(calls) == 2  # one held flush + ONE grouped flush of the 5
    code, res = _post(
        server, "/search", json.dumps({"query": "*", "with_total": True}).encode()
    )
    assert code == 200 and res["total"] == 6


def test_bulk_corrupt_deflate_is_400(server):
    """A gzip body with a VALID header but corrupt deflate data raises
    zlib.error (not OSError) — it must still be a client 400, never a 500
    that counts against the circuit breaker."""
    body = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\x03\xff\xff\xff\xff\xff"
    code, resp = _post(
        server, "/_bulk", body, headers={"Content-Encoding": "gzip"}
    )
    assert code == 400 and "gzip" in resp["error"]
    assert server._breaker.state == "closed"


def test_concurrent_ingest_search_export(server):
    """Whole-server thread-safety under mixed load: concurrent bulks
    (exercising group commit), searches, and an export drain — every
    response is a 2xx and the final total equals every doc ingested."""
    import threading

    n_bulk_threads, bulks_per_thread = 3, 4
    codes = []
    lock = threading.Lock()

    def record(code):
        with lock:
            codes.append(code)

    def ingest(tid):
        for b in range(bulks_per_thread):
            lines = []
            for d in range(5):
                lines.append('{"index": {}}')
                lines.append(json.dumps({
                    "timestamp": f"2024-01-01 10:{tid:02d}:{b * 5 + d:02d}.000",
                    "service": f"svc{tid}",
                    "message": f"doc {tid} {b} {d}",
                }))
            code, _ = _post(server, "/_bulk", "\n".join(lines).encode())
            record(code)

    def query():
        for _ in range(6):
            code, _ = _post(
                server, "/search",
                json.dumps({"query": "*", "with_total": True}).encode(),
            )
            record(code)

    def export():
        code, _ = _post(server, "/export", b'{"query": "*"}')
        record(code)

    threads = (
        [threading.Thread(target=ingest, args=(t,)) for t in range(n_bulk_threads)]
        + [threading.Thread(target=query) for _ in range(2)]
        + [threading.Thread(target=export)]
    )
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert all(c == 200 for c in codes), codes
    code, res = _post(
        server, "/search", json.dumps({"query": "*", "with_total": True}).encode()
    )
    assert code == 200
    assert res["total"] == n_bulk_threads * bulks_per_thread * 5


def test_search_before_first_ingest_is_empty_not_error(server):
    """A fresh deployment answers queries BEFORE any ingest with zero
    results (the reference's empty store), not a 400 from a missing
    parquet path."""
    code, res = _post(
        server, "/search", json.dumps({"query": "*", "with_total": True}).encode()
    )
    assert code == 200
    assert res["docs"] == [] and res["total"] == 0
    code, res = _post(server, "/complex", json.dumps(
        {"query": "*", "with_total": True, "hist_interval_ms": 3600_000,
         "aggs": [{"func": "count", "field": "service"}]}).encode())
    assert code == 200 and res["total"] == 0
    code, body = _get(server, "/readiness")
    assert (code, body["status"]) == (200, "ready")


def test_stalled_bulk_connection_reclaimed(server):
    """A shipper that sends headers with a Content-Length and then stalls
    must not pin an HTTP handler thread forever: the handler socket
    timeout closes the connection."""
    import http.client
    import threading
    import time as _time

    server._httpd.RequestHandlerClass.timeout = 1  # shrink for the test
    try:
        before = threading.active_count()
        conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=30)
        conn.putrequest("POST", "/_bulk")
        conn.putheader("Content-Length", "1000")
        conn.endheaders()  # declared body never sent
        _time.sleep(0.2)
        deadline = _time.time() + 10
        while _time.time() < deadline:
            if threading.active_count() <= before:
                break
            _time.sleep(0.1)
        assert threading.active_count() <= before
        conn.close()
        # the server is still fully functional afterwards
        code, _ = _post(server, "/_bulk", BULK)
        assert code == 200
    finally:
        server._httpd.RequestHandlerClass.timeout = 300


def test_index_all_fields_mode(spark, tmp_path):
    """--mapping=auto (`TestIndexingAllFields`,
    `tests/integration_tests/single_test.go:476`): with NO mapping every
    top-level field is keyword-indexed — exact match, wildcard, numeric
    literal — and querying a field no doc carries returns empty, not an
    error."""
    from seqspark import AutoMapping

    store = DocStore(spark, str(tmp_path / "auto_store"))
    srv = SeqSparkServer(
        spark, store, AutoMapping(), allowed_drift_ms=BIG, future_drift_ms=BIG
    ).start()
    try:
        lines = []
        for i in range(1, 6):
            lines.append('{"index": {}}')
            lines.append(json.dumps({
                "timestamp": f"2024-01-01 10:00:{i:02d}.000",
                "service": f"service-{i}",
                "message": f"I am tired of repeating the same message for the {i}-th time!",
                "level": 4130134,
            }))
        code, body = _post(srv, "/_bulk", "\n".join(lines).encode())
        assert code == 200 and not body["errors"]

        def total(q):
            code, res = _post(
                srv, "/search",
                json.dumps({"query": q, "with_total": True}).encode(),
            )
            assert code == 200, res
            return res["total"]

        assert total("service:service-1") == 1
        assert total("service:service-*") == 5
        assert total("level:4130134") == 5  # numeric value as keyword text
        assert total("unknown:foobarbaz") == 0  # no error, zero results
        assert total("_exists_:level") == 5
    finally:
        srv.stop()


def test_bulk_line_protocol_parity():
    """The reference's TestScanLines vectors (`proxyapi/http_bulk_test.go:
    82`): blank lines skipped before actions but a blank WHERE THE
    DOCUMENT BELONGS is a protocol error; oversized documents are
    skipped, never indexed; an oversized action line fails the request."""
    from seqspark.bulk import BadBulkRequest, parse_bulk_body

    # blank lines around pairs are fine
    res = parse_bulk_body(b'\n\n{"create":{}}\n{"level": "info"}\n\n')
    assert len(res.docs) == 1 and not res.errors
    # trailing newline fine
    res = parse_bulk_body(b'{"create":{}}\n{"level": "info"}\n')
    assert len(res.docs) == 1
    # blank line AFTER the action = misaligned shipper -> whole-request 400
    import pytest as _pytest

    with _pytest.raises(BadBulkRequest, match="empty document"):
        parse_bulk_body(b'\n\n{"create":{}}\n\n{"level": "info"}\n\n')
    # oversized document: skipped with a per-item 413, nothing indexed
    big = b'{"create":{}}\n{"pad": "' + b"a" * 40 + b'"}'
    res = parse_bulk_body(big, max_document_size=32)
    assert res.docs == [] and res.errors
    assert res.items[0]["create"]["status"] == 413
    # oversized ACTION line: protocol error
    with _pytest.raises(BadBulkRequest, match="action line"):
        parse_bulk_body(b'{"create":{"x": "' + b"a" * 40 + b'"}}\n{}',
                        max_document_size=32)


def test_bulk_malformed_action_with_blank_stays_per_item():
    """A malformed/unknown action consumes NO document line, so a blank
    after it is just a blank before the next action — per-item error, not
    a whole-request 400 (regression: a two-pass pre-scan classified these
    differently from the main loop)."""
    from seqspark.bulk import parse_bulk_body

    res = parse_bulk_body(b'garbage\n{"index":{}}\n{"a":1}\n\n')
    assert len(res.docs) == 1 and res.errors
    statuses = [list(i.values())[0]["status"] for i in res.items]
    assert statuses == [400, 201]
    res = parse_bulk_body(b'{"foo":{}}\n\n{"index":{}}\n{"a":1}')
    assert len(res.docs) == 1


def test_complex_persists_nothing_under_identical_concurrency(spark, server):
    """/complex persists no RDD (the fused job needs no cache), so
    concurrent identical requests cannot evict each other's blocks: four
    threads sending the same body at once all get the same answer on the
    first attempt, and the persisted-RDD count never moves."""
    import threading

    _post(server, "/_bulk", BULK)
    body = json.dumps({
        "query": "*", "size": 2, "with_total": True,
        "hist_interval_ms": 3600_000,
        "aggs": [{"func": "count", "field": "service"},
                 {"func": "count", "field": "service",
                  "interval_ms": 3600_000}],
    }).encode()
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    first = _post(server, "/complex", body)
    assert first[0] == 200 and first[1]["total"] == 2
    answers = []
    threads = [
        threading.Thread(target=lambda: answers.append(
            _post(server, "/complex", body)))
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert answers == [first] * 4
    assert jsc.getPersistentRDDs().size() == before

def _flaky_rig(spark, tmp_path, n_docs=6):
    """Server with n_docs spread over hours; returns (srv, expected rows)."""
    store = DocStore(spark, str(tmp_path / "flaky_store"))
    srv = SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG
    )
    lines = []
    for i in range(n_docs):
        lines.append('{"index": {}}')
        lines.append(json.dumps({
            "timestamp": f"2024-01-01 1{i % 3}:0{i}:00.000",
            "service": "auth", "message": f"msg {i}",
        }))
    srv.bulk("\n".join(lines).encode(), gzipped=False)
    expected = list(srv.export_docs({"query": "*", "order": "asc"}))
    assert len(expected) == n_docs
    return srv, expected


class _FlakyDF:
    """Wraps a DataFrame; its local iterator dies after ``fail_after``
    rows."""

    def __init__(self, df, fail_after):
        self._df, self._fail_after = df, fail_after

    def select(self, *cols):
        return _FlakyDF(self._df.select(*cols), self._fail_after)

    def toLocalIterator(self, **kw):
        def gen():
            for i, r in enumerate(self._df.toLocalIterator(**kw)):
                if i == self._fail_after:
                    raise RuntimeError("injected read failure")
                yield r
        return gen()


def _drain_with_maintenance(srv, req, at):
    """Drain an export, compacting every bucket once ``at`` rows have
    been read."""
    rows = srv.export_docs(req)
    got = [r for _, r in zip(range(at), rows)]
    assert srv.store.maintain(max_files_per_partition=0)
    return got + list(rows)


def test_export_resume_respects_size_budget(spark, tmp_path):
    """A sized drain yields exactly ``size`` rows of its one pinned
    frame, also when maintenance rewrites every bucket mid-stream."""
    srv, expected = _flaky_rig(spark, tmp_path)
    req = {"query": "*", "order": "asc", "size": 5}
    assert _drain_with_maintenance(srv, req, 3) == expected[:5]


def test_export_gives_up_without_progress(spark, tmp_path, monkeypatch):
    """A read failing mid-drain propagates at once — there is no replan
    loop: the drain's files are held, so a failing read is a real fault
    — and the drain's snapshot is released."""
    srv, _ = _flaky_rig(spark, tmp_path)
    real_table = srv._table

    class AlwaysFlaky:
        def __init__(self, real):
            self._real = real

        def search(self, *a, **k):
            return _FlakyDF(self._real.search(*a, **k), 0)

    monkeypatch.setattr(srv, "_table",
                        lambda snap=None: AlwaysFlaky(real_table(snap)))
    with pytest.raises(RuntimeError, match="injected"):
        list(srv.export_docs({"query": "*", "order": "asc"}))
    assert srv.store._log.holds == {}


def test_export_survives_compaction_burst_at_one_cursor(spark, tmp_path):
    """A multi-partition ``maintain`` burst compacts every bucket while
    the drain sits at one cursor: the drain completes with exactly the
    rows of its pinned snapshot — ordered, no duplicate, no loss."""
    srv, expected = _flaky_rig(spark, tmp_path)
    got = _drain_with_maintenance(srv, {"query": "*", "order": "asc"}, 1)
    assert got == expected


def test_export_bad_query_still_raises_eagerly(server):
    """Request-shaped errors must raise at export_docs() call time (the
    HTTP handler turns them into a 400 BEFORE the 200 status line) — the
    lazy resume drain must not swallow them into a truncated stream."""
    with pytest.raises(Exception):
        server.export_docs({"query": "service:((", "order": "asc"})


def test_es_version_flag(spark, tmp_path):
    """`--es-version`: the banner version shippers read is configurable
    (`proxyapi/ingestor_config.go:18`)."""
    store = DocStore(spark, str(tmp_path / "esv_store"))
    srv = SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        es_version="7.17.0",
    ).start()
    try:
        code, body = _get(srv, "/")
        assert code == 200
        assert body["version"]["number"] == "7.17.0"
        assert body["tagline"] == "You Know, for Search"
    finally:
        srv.stop()


def test_export_resume_exhaustive_fail_points(spark, tmp_path):
    """Sweep the point where maintenance runs across every position of
    the drain, both orders, plus a retention of the oldest bucket
    mid-drain: every drain equals the clean drain of its snapshot, and
    only a later export sees the retention."""
    srv, expected = _flaky_rig(spark, tmp_path)
    n = len(expected)
    for k in range(n + 1):
        got = _drain_with_maintenance(srv, {"query": "*", "order": "asc"}, k)
        assert got == expected, f"maintenance@{k}"
    clean = list(srv.export_docs({"query": "*", "order": "desc"}))
    got = _drain_with_maintenance(srv, {"query": "*", "order": "desc"}, 3)
    assert got == clean
    rows = srv.export_docs({"query": "*", "order": "asc"})
    got = [next(rows), next(rows)]
    oldest, *rest = srv.store.partitions()
    assert srv.store.retain(min_bucket=rest[0]) == [oldest]
    assert got + list(rows) == expected
    after = list(srv.export_docs({"query": "*", "order": "asc"}))
    assert after == expected[len(expected) - len(after):] and len(after) < n


def test_reference_quickstart_curl_shapes_work_verbatim(server):
    """The reference's documented quickstart (`docs/en/01-quickstart.md`)
    drives the HTTP port with the grpc-gateway JSON rendering: nested
    query object, RFC3339 from/to, Grpc-Metadata-use-seq-ql header. That
    exact request must work against this server, and the response must
    be the gateway rendering (int64-as-string total, base64 data,
    RFC3339 time, reference id format)."""
    import base64

    bulk = "\n".join([
        '{"index" : {"unused-key":""}}',
        json.dumps({"timestamp": "2024-01-01 10:00:00.000",
                    "service": "payment", "message":
                    "Payment processing failed: insufficient funds"}),
        '{"index" : {"unused-key":""}}',
        json.dumps({"timestamp": "2024-01-01 10:01:00.000",
                    "service": "frontend",
                    "message": "Product list retrieved"}),
    ]).encode()
    code, _ = _post(server, "/_bulk", bulk)
    assert code == 200
    code, res = _post(
        server, "/search",
        json.dumps({
            "query": {
                "query": "message: failed",
                "from": "2020-02-11T10:30:00Z",
                "to": "2030-11-25T17:50:30Z",
            },
            "size": 100,
            "offset": 0,
        }).encode(),
        headers={"Content-Type": "application/json",
                 "Grpc-Metadata-use-seq-ql": "true"},
    )
    assert code == 200
    assert len(res["docs"]) == 1
    doc = res["docs"][0]
    assert "-" in doc["id"] and len(doc["id"]) == 33  # seq.go hex id
    payload = json.loads(base64.b64decode(doc["data"]))
    assert payload["service"] == "payment"
    assert doc["time"].endswith("Z")
    assert res["error"]["code"] == "ERROR_CODE_NO"
    assert res["partialResponse"] is False
    assert isinstance(res["total"], str)  # gateway renders int64 as string
    # withTotal + gateway order enum
    code, res = _post(
        server, "/search",
        json.dumps({
            "query": {"query": "*", "from": "2020-01-01T00:00:00Z",
                      "to": "2030-01-01T00:00:00Z"},
            "size": 10, "withTotal": True, "order": "ORDER_ASC",
        }).encode(),
    )
    assert code == 200 and res["total"] == "2"
    times = [d["time"] for d in res["docs"]]
    assert times == sorted(times)  # ORDER_ASC honored
    # the flat native shape keeps working unchanged
    code, res = _post(server, "/search",
                      json.dumps({"query": "message:failed"}).encode())
    assert code == 200 and len(res["docs"]) == 1 and "mid" in res["docs"][0]


def test_gateway_routes_full_surface(server):
    """The reference's grpc-gateway HTTP routes (`seq_proxy_api.proto`
    google.api.http): /complex-search, /aggregate, /histogram, /mappings,
    /async-search (POST + GET + DELETE) — all served through the SAME
    handlers as the real gRPC transport, rendered gateway-style."""
    _post(server, "/_bulk", BULK)
    win = {"from": "2020-01-01T00:00:00Z", "to": "2030-01-01T00:00:00Z"}

    # /complex-search: docs + total + hist + agg in one request
    code, res = _post(server, "/complex-search", json.dumps({
        "query": {"query": "*", **win},
        "size": 10, "withTotal": True,
        "hist": {"interval": "1h"},
        "aggs": [{"func": "AGG_FUNC_COUNT", "field": "service"}],
    }).encode())
    assert code == 200, res
    assert res["total"] == "2"
    assert len(res["docs"]) == 2
    assert sum(int(b["docCount"]) for b in res["hist"]["buckets"]) == 2
    keys = {b["key"]: b["value"] for b in res["aggs"][0]["buckets"]}
    assert keys == {"auth": 1.0, "pay": 1.0}
    assert res["error"]["code"] == "ERROR_CODE_NO"

    # /aggregate
    code, res = _post(server, "/aggregate", json.dumps({
        "query": {"query": "*", **win},
        "aggs": [{"func": "AGG_FUNC_COUNT", "field": "service"}],
    }).encode())
    assert code == 200
    assert {b["key"] for b in res["aggs"][0]["buckets"]} == {"auth", "pay"}

    # /histogram
    code, res = _post(server, "/histogram", json.dumps({
        "query": {"query": "service:auth", **win},
        "hist": {"interval": "1h"},
    }).encode())
    assert code == 200
    assert sum(int(b["docCount"]) for b in res["hist"]["buckets"]) == 1
    assert res["hist"]["buckets"][0]["ts"].endswith("Z")

    # gateway validation errors map to HTTP statuses (INVALID_ARGUMENT→400)
    code, res = _post(server, "/histogram", json.dumps({
        "query": {"query": "*", **win}, "hist": {}}).encode())
    assert code == 400

    # /mappings
    import base64
    import urllib.request as _u
    with _u.urlopen(f"http://127.0.0.1:{server.port}/mappings") as r:
        assert r.status == 200
        fields = json.loads(base64.b64decode(json.loads(r.read())["data"]))
    assert fields["service"] == "keyword"

    # /async-search lifecycle: POST start → GET result → DELETE cancel
    code, res = _post(server, "/async-search", json.dumps({
        "retention": "3600s",
        "query": {"query": "*", **win},
        "aggs": [{"func": "AGG_FUNC_COUNT", "field": "service"}],
    }).encode())
    assert code == 200, res
    sid = res["searchId"]
    server._async.wait(sid, timeout=120)
    with _u.urlopen(
        f"http://127.0.0.1:{server.port}/async-search/{sid}?withDocs=true"
        "&size=10"
    ) as r:
        assert r.status == 200
        out = json.loads(r.read())
    assert out["done"] is True
    assert out["response"]["aggs"][0]["buckets"]
    req = _u.Request(
        f"http://127.0.0.1:{server.port}/async-search/{sid}",
        method="DELETE",
    )
    with _u.urlopen(req) as r:
        assert r.status == 200


def test_gateway_export_stream(server):
    """Gateway-shaped /export: nested SearchQuery request, response as
    grpc-gateway server-streaming frames ({"result": ExportResponse} per
    line, no custom sentinel); the native flat shape is unchanged."""
    import base64

    _post(server, "/_bulk", BULK)
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/export",
        data=json.dumps({
            "query": {"query": "*", "from": "2020-01-01T00:00:00Z",
                      "to": "2030-01-01T00:00:00Z"},
            "size": 100,
        }).encode(),
    )
    with urllib.request.urlopen(req) as r:
        assert r.status == 200
        lines = [json.loads(l) for l in r.read().decode().splitlines()]
    assert len(lines) == 2
    for frame in lines:
        doc = frame["result"]["doc"]
        assert "-" in doc["id"] and doc["time"].endswith("Z")
        json.loads(base64.b64decode(doc["data"]))  # valid doc bytes
    # native flat shape still ends with the sentinel
    req = urllib.request.Request(
        f"http://127.0.0.1:{server.port}/export",
        data=json.dumps({"query": "*", "order": "asc"}).encode(),
    )
    with urllib.request.urlopen(req) as r:
        native = [json.loads(l) for l in r.read().decode().splitlines()]
    assert native[-1] == {"end": True, "rows": 2}


def test_gateway_routes_share_grpc_validation_and_errors(server):
    """Round-9 hardening: gateway-shaped /search and /export run through
    the shared gRPC handlers, inheriting doSearch validation and the
    MaxRequestedDocuments cap; gateway GET routes answer errors as clean
    HTTP statuses instead of dropped connections; offset-less RFC3339
    timestamps are rejected rather than read in the server's local zone."""
    _post(server, "/_bulk", BULK)
    win = {"from": "2020-01-01T00:00:00Z", "to": "2030-01-01T00:00:00Z"}

    # missing window → the doSearch family's INVALID_ARGUMENT as a 400
    # (was: silently accepted, defaulted, and scanned unbounded) — and
    # the metric pair matches the native 400 path (total + error)
    before = dict(server._counters)
    code, res = _post(server, "/search", json.dumps({
        "query": {"query": "*"}, "size": 10}).encode())
    assert code == 400 and "must be provided" in res["message"]
    after = dict(server._counters)
    assert after["search_total"] - before.get("search_total", 0) == 1
    assert (after["search_errors_total"]
            - before.get("search_errors_total", 0) == 1)

    # size must be > 0, exactly as over gRPC
    code, res = _post(server, "/search", json.dumps({
        "query": {"query": "*", **win}}).encode())
    assert code == 400 and "size" in res["message"]

    # an offset-less timestamp would mean "the server's local zone":
    # results would differ per deployment machine, so it is rejected
    code, res = _post(server, "/search", json.dumps({
        "query": {"query": "*", "from": "2020-01-01T00:00:00",
                  "to": "2030-01-01T00:00:00"}, "size": 10}).encode())
    assert code == 400

    # gateway /export: required window + MaxRequestedDocuments guard
    code, res = _post(server, "/export", json.dumps({
        "query": {"query": "*"}}).encode())
    assert code == 400
    from seqspark.engine import MAX_SEARCH_DOCS
    code, res = _post(server, "/export", json.dumps({
        "query": {"query": "*", **win},
        "size": MAX_SEARCH_DOCS + 1}).encode())
    assert code == 400 and "too many documents" in res["message"]

    # unknown async-search id → 404 (was: unhandled KeyError dropped
    # the connection with zero bytes sent); same NOT_FOUND over gRPC
    code, res = _get(server, "/async-search/deadbeef")
    assert code == 404

    # non-integer query params → 400, not a dropped connection
    code, res = _post(server, "/async-search", json.dumps({
        "query": {"query": "*", **win}}).encode())
    assert code == 200
    sid = res["searchId"]
    code, res = _get(server, f"/async-search/{sid}?size=abc")
    assert code == 400
    server._async.wait(sid, timeout=120)


def test_gateway_rpc_binds_no_socket(server):
    """The SeqProxyGrpc behind the gateway routes exists purely for
    handler reuse: its GrpcServer must not bind a listening socket
    unless start() is called (a bound, never-accepted listener leaks an
    fd and hangs any client that connects to it)."""
    g = server._gateway_rpc()
    assert g.port is None
    assert g._server._h2 is None
    # the gateway routes work without any listener having been bound
    code, _ = _get(server, "/mappings")
    assert code == 200
    assert g._server._h2 is None


def test_mappings_answers_on_empty_store(spark, tmp_path):
    """The Mapping endpoint is config-backed: an empty store with no
    parquet yet must still report the mapping (both renderings)."""
    import base64

    store = DocStore(spark, str(tmp_path / "empty"))
    srv = SeqSparkServer(spark, store, MAPPING).start()
    try:
        code, res = _get(srv, "/mappings")
        assert code == 200
        fields = json.loads(base64.b64decode(res["data"]))
        assert fields["service"] == "keyword"
        # the shared gRPC handler answers identically
        out = srv._gateway_rpc().mapping({}, {})
        assert json.loads(out["data"]) == fields
    finally:
        srv.stop()
