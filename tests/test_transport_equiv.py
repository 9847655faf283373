"""Cross-transport equivalence fuzz (r14, verdict #8; gateway leg r15,
verdict #6): one random ComplexSearch-shaped request driven through all
FOUR wire surfaces — HTTP JSON ``POST /complex``, seqproxyapi.v1
``ComplexSearch`` (proto3 over h2), the internal ``api.StoreApi/Search``,
and the grpc-gateway transcoder ``POST /complex-search`` (RFC3339
times, base64 bytes, int64-as-string, enum names) — against the SAME
core and store must yield identical ids, totals, histograms and agg
buckets once each wire's representation is unfolded.

The engine under all three is one code path (``SeqSparkServer.complex``);
what this fuzzes is the remaining divergence surface: response MAPPING —
`grpcapi._complex_proto` (Aggregation buckets + Timestamp math,
`proxyapi/grpc_complex_search.go:34-60`), `storegrpc._response_proto`
(the store Histogram row dicts of `storeapi/grpc_search.go`; a proto3
map whose entry order is unspecified), and the plain JSON dict of the
HTTP handler. Known representational differences this test encodes
rather than papers over:

- StoreApi's ``Histogram`` has no NaN: a None/NaN agg value ships as
  the field's zero value (`storegrpc._hist_of`), so the expectation is
  coerced the same way.
- StoreApi ``avg`` ships sum=value,total=1 (proxy-merge semantics);
  the division reconstructs the value exactly.
- StoreApi carries ids only (``IdWithHint``), no doc bodies — body
  parity is asserted HTTP vs seqproxy.
"""

import json
import math
import urllib.request

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from seqspark import Mapping
from seqspark.grpcapi import SeqProxyGrpc, seq_id_parse
from seqspark.server import SeqSparkServer
from seqspark.storegrpc import StoreGrpc
from seqspark.store import DocStore
from seqspark.wire import seqproxy as sp
from seqspark.wire import storeapi as sa
from seqspark.wire.grpc import GrpcChannel

BIG = 10**15
MAPPING = Mapping({"service": "keyword", "msg": "text", "code": "keyword"})
EPOCH_MS = 1704067200000  # 2024-01-01 00:00:00 UTC
SPAN_S = 3600
N_DOCS = 120

_SERVICES = ["auth", "pay", "web", "cart"]
_WORDS = ["alpha", "beta", "gamma", "delta", "epsilon"]


def _corpus():
    from datetime import datetime, timezone

    docs = []
    for i in range(N_DOCS):
        ts_ms = EPOCH_MS + (i * 37 % SPAN_S) * 1000
        ts = datetime.fromtimestamp(ts_ms / 1000, tz=timezone.utc)
        docs.append({
            "timestamp": ts.strftime("%Y-%m-%d %H:%M:%S.") + f"{ts_ms % 1000:03d}",
            "service": _SERVICES[i % len(_SERVICES)],
            "msg": f"{_WORDS[i % 5]} {_WORDS[(i * 3) % 5]} run {i}",
            # every third doc misses `code` so not_exists paths light up
            **({} if i % 3 == 0 else {"code": str(i * 7 % 100)}),
        })
    return docs


@pytest.fixture(scope="module")
def rig(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("equiv")
    store = DocStore(spark, str(tmp / "store"))
    core = SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        async_dir=str(tmp / "async"),
    ).start()
    lines = []
    for d in _corpus():
        lines.append('{"index": {}}')
        lines.append(json.dumps(d))
    core.bulk("\n".join(lines).encode(), gzipped=False)
    proxy = SeqProxyGrpc(core).start()
    storeapi = StoreGrpc(core).start()
    ch_p = GrpcChannel("127.0.0.1", proxy.port)
    ch_s = GrpcChannel("127.0.0.1", storeapi.port)
    yield core, ch_p, ch_s
    ch_p.close()
    ch_s.close()
    proxy.stop()
    storeapi.stop()
    core.stop()


# ----------------------------------------------------------- the spec

_QUERIES = [
    "*",
    "service:auth",
    "service:auth or service:pay",
    "service:in(auth, web)",
    "msg:gamma",
    "msg:ga*",
    "msg:gamma and not service:pay",
    "code:[10, 60)",
    "code:[5, 95] and service:web",
    "_exists_:code",
]


@st.composite
def _spec(draw):
    q = draw(st.sampled_from(_QUERIES))
    if draw(st.booleans()):
        a = draw(st.integers(0, SPAN_S))
        b = draw(st.integers(0, SPAN_S))
        lo, hi = sorted((a, b))
        window = (EPOCH_MS + lo * 1000, EPOCH_MS + hi * 1000)
    else:
        window = (EPOCH_MS, EPOCH_MS + SPAN_S * 1000)
    order = draw(st.sampled_from([0, 1]))  # both ORDER enums: 0=desc 1=asc
    size = draw(st.sampled_from([0, 7, 40]))
    offset = draw(st.sampled_from([0, 3]))
    hist_iv = draw(st.sampled_from([None, 60_000]))
    n_aggs = draw(st.integers(0, 2))
    aggs = []
    for _ in range(n_aggs):
        func = draw(st.sampled_from(
            ["count", "unique", "sum", "min", "max", "avg"]))
        if func in ("count", "unique"):
            iv = None if func == "unique" else draw(
                st.sampled_from([None, 60_000]))
            aggs.append((func, None, "service", iv))
        else:
            aggs.append((
                func, "code",
                draw(st.sampled_from([None, "service"])),
                draw(st.sampled_from([None, 60_000])),
            ))
    if not aggs and hist_iv is None and size == 0:
        size = 7  # every surface requires one of size/hist/aggs
    return (q, window, order, size, offset, hist_iv, aggs)


_FUNC_NUM = {v: k for k, v in sa.AGG_FUNC.items()}


# --------------------------------------------- per-transport canon

def _canon_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    return float(v)


def _bucket_key(b):
    return (b[0], -1 if b[1] is None else b[1])


def _canon_http(out):
    ids = [(d["mid"], d["rid"]) for d in out.get("docs", [])]
    data = [d["data"] for d in out.get("docs", [])]
    total = out.get("total")
    hist = sorted((int(k), int(v))
                  for k, v in (out.get("histogram") or {}).items())
    aggs = []
    for rows in out.get("aggs", []):
        aggs.append(sorted((
            ("" if r.get("name") is None else str(r["name"]),
             r.get("mid_ms"),
             _canon_value(r.get("value")),
             int(r.get("not_exists") or 0))
            for r in rows
        ), key=_bucket_key))
    return ids, data, total, hist, aggs


def _canon_proxy(resp):
    docs = resp.get("docs", [])
    ids = [seq_id_parse(d["id"]) for d in docs]
    data = [bytes(d.get("data") or b"").decode() for d in docs]
    total = resp.get("total", 0)
    hist = sorted(
        (sp.ts_to_ms(b.get("ts")), int(b.get("doc_count") or 0))
        for b in (resp.get("hist") or {}).get("buckets", [])
    )
    aggs = []
    for a in resp.get("aggs", []):
        aggs.append(sorted((
            (b.get("key", ""),
             sp.ts_to_ms(b["ts"]) if b.get("ts") is not None else None,
             _canon_value(b.get("value", 0.0)),
             int(b.get("not_exists") or 0))
            for b in a.get("buckets", [])
        ), key=_bucket_key))
    return ids, data, total, hist, aggs


def _canon_gateway(out):
    """Unfold the grpc-gateway JSON rendering (r15, verdict #6):
    RFC3339 Timestamp strings, base64 bytes, int64-as-string, enum
    names, and "NaN" for a NaN double — the fourth response mapping
    that can drift independently of the three wire canonicalizers."""
    import base64

    from seqspark import gateway as gw

    def ms(v):
        return sp.ts_to_ms(gw._ts_from_json(v)) if v is not None else None

    def val(v):
        if v is None or v == "NaN":
            return None
        return float(v)

    ids = [seq_id_parse(d["id"]) for d in out.get("docs", [])]
    data = [base64.b64decode(d.get("data") or "").decode()
            for d in out.get("docs", [])]
    total = int(out.get("total", 0))
    hist = sorted(
        (ms(b.get("ts")), int(b.get("docCount") or 0))
        for b in (out.get("hist") or {}).get("buckets", [])
    )
    aggs = []
    for a in out.get("aggs", []):
        aggs.append(sorted((
            (b.get("key", ""), ms(b.get("ts")),
             _canon_value(val(b.get("value", 0.0))),
             int(b.get("notExists") or 0))
            for b in a.get("buckets", [])
        ), key=_bucket_key))
    return ids, data, total, hist, aggs


def _store_value(func, h):
    if func in ("count", "unique"):
        return float(h.get("total", 0))
    if func == "sum":
        return float(h.get("sum", 0.0))
    if func == "min":
        return float(h.get("min", 0.0))
    if func == "max":
        return float(h.get("max", 0.0))
    if func == "avg":
        return float(h.get("sum", 0.0)) / float(h.get("total", 1) or 1)
    raise AssertionError(func)


def _canon_store(resp, agg_specs):
    ids = [seq_id_parse(s["hint"]) for s in resp.get("id_sources", [])]
    total = resp.get("total", 0)
    hist = sorted(
        (int(b.get("key") or 0), int(b.get("value") or 0))
        for b in resp.get("histogram", [])
    )
    aggs = []
    for (func, _f, _g, _iv), a in zip(agg_specs, resp.get("aggs", [])):
        buckets = []
        for e in a.get("agg_histogram", []):
            buckets.append((
                e.get("key", ""), None,
                _store_value(func, e.get("value") or {}),
                int((e.get("value") or {}).get("not_exists") or 0),
            ))
        for b in a.get("timeseries", []):
            buckets.append((
                b.get("label", ""), sp.ts_to_ms(b["ts"]),
                _store_value(func, b.get("hist") or {}),
                int((b.get("hist") or {}).get("not_exists") or 0),
            ))
        aggs.append(sorted(buckets, key=_bucket_key))
    return ids, total, hist, aggs


def test_quantile_parity_across_transports(rig):
    """Quantile aggs carry a vector per bucket, shaped differently on
    each wire (HTTP qN row keys, seqproxy `quantiles` list, StoreApi
    Histogram `samples`); the fuzz excludes them, so this deterministic
    case pins all three agree."""
    core, ch_p, ch_s = rig
    qs = [0.5, 0.9]
    spec = {"func": "quantile", "field": "code", "group_by": "service",
            "quantiles": qs}
    r = urllib.request.Request(
        f"http://127.0.0.1:{core.port}/complex",
        data=json.dumps({
            "query": "*", "from_ms": EPOCH_MS,
            "to_ms": EPOCH_MS + SPAN_S * 1000, "size": 0,
            "with_total": True, "aggs": [spec],
        }).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(r, timeout=120) as resp:
        rows = json.loads(resp.read())["aggs"][0]
    qkeys = sorted((k for k in rows[0] if k[0] == "q" and k[1:].isdigit()),
                   key=lambda k: int(k[1:]))
    http_b = {r["name"]: [r[k] for k in qkeys] for r in rows}

    presp = ch_p.unary(
        "/seqproxyapi.v1.SeqProxyApi/GetAggregation",
        {"query": {"query": "*", "from": sp.ms_to_ts(EPOCH_MS),
                   "to": sp.ms_to_ts(EPOCH_MS + SPAN_S * 1000)},
         "aggs": [{"func": _FUNC_NUM["quantile"], "field": "code",
                   "group_by": "service", "quantiles": qs}]},
        sp.GET_AGGREGATION_REQUEST, sp.GET_AGGREGATION_RESPONSE,
    )
    proxy_b = {b.get("key", ""): list(b.get("quantiles", []))
               for b in presp["aggs"][0]["buckets"]}

    sresp = ch_s.unary(
        f"{sa.SERVICE}/Search",
        {"query": "*", "from": EPOCH_MS, "to": EPOCH_MS + SPAN_S * 1000,
         "size": 0, "with_total": True,
         "aggs": [{"func": _FUNC_NUM["quantile"], "field": "code",
                   "group_by": "service", "quantiles": qs}]},
        sa.SEARCH_REQUEST, sa.SEARCH_RESPONSE,
    )
    store_b = {
        e.get("key", ""): list((e.get("value") or {}).get("samples", []))
        for e in sresp["aggs"][0]["agg_histogram"]
    }
    assert set(http_b) == set(proxy_b) == set(store_b)
    for name, vec in http_b.items():
        # None quantiles (NotExists-only buckets): proxy carries NaN,
        # StoreApi's Histogram zero-codes — each wire's documented shape
        for i, v in enumerate(vec):
            p, s = proxy_b[name][i], store_b[name][i]
            if v is None:
                assert math.isnan(p) and s == 0.0, (name, i, p, s)
            else:
                assert p == float(v) == s, (name, i, v, p, s)


# ------------------------------------------------- export drain parity

@st.composite
def _export_spec(draw):
    q = draw(st.sampled_from(_QUERIES))
    if draw(st.booleans()):
        a = draw(st.integers(0, SPAN_S))
        b = draw(st.integers(0, SPAN_S))
        lo, hi = sorted((a, b))
        window = (EPOCH_MS + lo * 1000, EPOCH_MS + hi * 1000)
    else:
        window = (EPOCH_MS, EPOCH_MS + SPAN_S * 1000)
    return (q, window, draw(st.sampled_from([5, 37, 1000])))


_ID_RE = __import__("re").compile(r"^(\d+)-(-?\d+)$")


@settings(max_examples=8, deadline=None)
@given(_export_spec())
def test_export_transport_parity(rig, spec):
    """The same export drain through HTTP NDJSON and the seqproxy gRPC
    Export stream: identical (mid, rid, body) sequences, in order."""
    core, ch_p, _ch_s = rig
    q, (f_ms, t_ms), size = spec

    r = urllib.request.Request(
        f"http://127.0.0.1:{core.port}/export",
        data=json.dumps({"query": q, "from_ms": f_ms, "to_ms": t_ms,
                         "size": size}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(r, timeout=120) as resp:
        http_docs = []
        sentinel = None
        for line in resp.read().decode().splitlines():
            if not line.strip():
                continue
            obj = json.loads(line)
            if obj.get("end"):
                sentinel = obj
                continue
            d = obj["doc"]
            m = _ID_RE.match(d["id"])
            http_docs.append((int(m.group(1)), int(m.group(2)), d["data"]))
    # a complete drain always ends with the explicit sentinel
    assert sentinel is not None and sentinel["rows"] == len(http_docs)

    msgs = ch_p.server_streaming(
        "/seqproxyapi.v1.SeqProxyApi/Export",
        {"query": {"query": q, "from": sp.ms_to_ts(f_ms),
                   "to": sp.ms_to_ts(t_ms)}, "size": size},
        sp.EXPORT_REQUEST, sp.EXPORT_RESPONSE,
    )
    grpc_docs = [
        (*seq_id_parse(m["doc"]["id"]),
         bytes(m["doc"].get("data") or b"").decode())
        for m in msgs
    ]
    assert http_docs == grpc_docs, (spec, len(http_docs), len(grpc_docs))
    assert len(http_docs) <= size


# ------------------------------------------------------------ the fuzz

@settings(max_examples=15, deadline=None)
@given(_spec())
def test_three_transport_equivalence(rig, spec):
    core, ch_p, ch_s = rig
    q, (f_ms, t_ms), order, size, offset, hist_iv, agg_specs = spec

    # 1. HTTP JSON /complex over the real socket
    hreq = {
        "query": q, "from_ms": f_ms, "to_ms": t_ms, "size": size,
        "offset": offset, "order": sp.ORDER[order], "with_total": True,
    }
    if hist_iv is not None:
        hreq["hist_interval_ms"] = hist_iv
    hreq["aggs"] = [
        {"func": fn, **({"field": fl} if fl else {}),
         **({"group_by": gb} if gb else {}),
         **({"interval_ms": iv} if iv else {})}
        for fn, fl, gb, iv in agg_specs
    ]
    r = urllib.request.Request(
        f"http://127.0.0.1:{core.port}/complex",
        data=json.dumps(hreq).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(r, timeout=120) as resp:
        http_out = json.loads(resp.read())
    h_ids, h_data, h_total, h_hist, h_aggs = _canon_http(http_out)

    # 2. seqproxyapi.v1 ComplexSearch (proto3 over h2)
    preq = {
        "query": {"query": q, "from": sp.ms_to_ts(f_ms),
                  "to": sp.ms_to_ts(t_ms)},
        "size": size, "offset": offset, "with_total": True, "order": order,
        "aggs": [
            {"func": _FUNC_NUM[fn], **({"field": fl} if fl else {}),
             **({"group_by": gb} if gb else {}),
             **({"interval": f"{iv // 1000}s"} if iv else {})}
            for fn, fl, gb, iv in agg_specs
        ],
    }
    if hist_iv is not None:
        preq["hist"] = {"interval": f"{hist_iv // 1000}s"}
    presp = ch_p.unary(
        "/seqproxyapi.v1.SeqProxyApi/ComplexSearch", preq,
        sp.COMPLEX_SEARCH_REQUEST, sp.COMPLEX_SEARCH_RESPONSE,
    )
    p_ids, p_data, p_total, p_hist, p_aggs = _canon_proxy(presp)

    # 3. api.StoreApi/Search (ids + store Histogram shaping)
    sreq = {
        "query": q, "from": f_ms, "to": t_ms, "size": size,
        "offset": offset, "with_total": True, "order": order,
        "aggs": [
            {"func": _FUNC_NUM[fn], "field": fl or "",
             **({"group_by": gb} if gb else {}),
             **({"interval": iv} if iv else {})}
            for fn, fl, gb, iv in agg_specs
        ],
    }
    if hist_iv is not None:
        sreq["interval"] = hist_iv
    sresp = ch_s.unary(f"{sa.SERVICE}/Search", sreq,
                       sa.SEARCH_REQUEST, sa.SEARCH_RESPONSE)
    s_ids, s_total, s_hist, s_aggs = _canon_store(sresp, agg_specs)

    # 4. grpc-gateway /complex-search (r15, verdict #6): the transcoder
    # surface — RFC3339 times in, gateway JSON out — through the SAME
    # unstarted SeqProxyGrpc handlers, rendered by gateway.proto_to_json
    from seqspark import gateway as gw

    greq = {
        "query": {"query": q, "from": gw._ts_to_json(sp.ms_to_ts(f_ms)),
                  "to": gw._ts_to_json(sp.ms_to_ts(t_ms))},
        "size": size, "offset": offset, "withTotal": True,
        "order": "ORDER_DESC" if order == 0 else "ORDER_ASC",
        "aggs": [
            {"func": f"AGG_FUNC_{fn.upper()}",
             **({"field": fl} if fl else {}),
             **({"groupBy": gb} if gb else {}),
             **({"interval": f"{iv // 1000}s"} if iv else {})}
            for fn, fl, gb, iv in agg_specs
        ],
    }
    if hist_iv is not None:
        greq["hist"] = {"interval": f"{hist_iv // 1000}s"}
    r = urllib.request.Request(
        f"http://127.0.0.1:{core.port}/complex-search",
        data=json.dumps(greq).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(r, timeout=120) as resp:
        gw_out = json.loads(resp.read())
    g_ids, g_data, g_total, g_hist, g_aggs = _canon_gateway(gw_out)

    # 4b. the gateway's OTHER response mappings: /aggregate and
    # /histogram render through GET_AGGREGATION_RESPONSE /
    # GET_HISTOGRAM_RESPONSE — different descriptors that can drift
    # independently of /complex-search's
    if agg_specs:
        r = urllib.request.Request(
            f"http://127.0.0.1:{core.port}/aggregate",
            data=json.dumps(
                {"query": greq["query"], "aggs": greq["aggs"]}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(r, timeout=120) as resp:
            agg_out = json.loads(resp.read())
        _, _, _, _, ga_aggs = _canon_gateway(agg_out)
        assert ga_aggs == h_aggs, (spec, ga_aggs, h_aggs)
    if hist_iv is not None:
        r = urllib.request.Request(
            f"http://127.0.0.1:{core.port}/histogram",
            data=json.dumps(
                {"query": greq["query"], "hist": greq["hist"]}).encode(),
            headers={"Content-Type": "application/json"},
        )
        with urllib.request.urlopen(r, timeout=120) as resp:
            hist_out = json.loads(resp.read())
        _, _, _, gh_hist, _ = _canon_gateway(hist_out)
        assert gh_hist == h_hist, (spec, gh_hist, h_hist)

    # ids: same docs, same order, on all four
    assert h_ids == p_ids == s_ids == g_ids, (
        spec, h_ids, p_ids, s_ids, g_ids)
    # doc bodies: byte-equal where the wire carries them
    assert h_data == p_data == g_data, spec
    assert h_total == p_total == s_total == g_total, (
        spec, h_total, p_total, s_total, g_total)
    assert h_hist == p_hist == s_hist == g_hist, (
        spec, h_hist, p_hist, s_hist, g_hist)
    assert h_aggs == g_aggs, (spec, h_aggs, g_aggs)
    # agg buckets: HTTP vs proxy carry NaN faithfully; StoreApi's
    # Histogram zero-codes it
    assert h_aggs == p_aggs, (spec, h_aggs, p_aggs)
    coerced = [
        [(k, m, 0.0 if v is None else v, ne) for k, m, v, ne in rows]
        for rows in h_aggs
    ]
    for want, got, a_spec in zip(coerced, s_aggs, agg_specs):
        assert len(want) == len(got), (spec, a_spec, want, got)
        for w, g in zip(want, got):
            assert w[0] == g[0] and w[1] == g[1] and w[3] == g[3], (
                spec, a_spec, w, g)
            assert math.isclose(w[2], g[2], rel_tol=1e-9, abs_tol=1e-9), (
                spec, a_spec, w, g)


# ----------------------------------------------------------------- r17
# Routing-parity fuzz (r16 verdict #4): `_route_two_phase` falls back
# silently on every failed precondition — correct — but a routing bug
# that PASSES the preconditions and diverges would be equally silent.
# This leg attaches an index to a wide parquet corpus and fuzzes random
# queries / windows / keyset cursors / orders / page shapes, asserting
# the ROUTED result equals the SCAN result row-for-row (routing toggled
# by the operator's own width threshold, nothing else changed), and
# that both routes are genuinely served across the run (read back from
# `ComplexSearchResult.route`, the same signal the server's explain
# prints as "Route: ..."; keyset pages through a two_phase_search spy).
# A complex request with docs, total and an agg on the routed table
# must equal the same request on the index-less table.
# Anchor: proxy/search/ingestor.go:140-151.

@pytest.fixture(scope="module")
def routing_rig(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from seqspark import SearchTable
    from seqspark.engine import materialize_tokens
    from seqspark.index import build_inverted_index

    tmp = tmp_path_factory.mktemp("routing_fuzz")
    pad = "x" * 1800  # wide bodies so avg_doc_bytes clears the threshold
    rows = [(
        EPOCH_MS + (i % 180) * 1000,  # duplicate mids: rid tiebreak real
        i,
        f"{_WORDS[i % 5]} {_WORDS[(i * 3) % 5]} {_SERVICES[i % 4]}",
        _SERVICES[(i * 7) % 4],
        i * 37 % 100,
        pad,
    ) for i in range(400)]
    spark.createDataFrame(
        rows, "mid long, rid long, text string, svc string, "
              "code long, body string",
    ).withColumn("ts", F.timestamp_millis(F.col("mid"))) \
     .write.parquet(str(tmp / "corpus"))
    df = spark.read.parquet(str(tmp / "corpus"))
    tok = materialize_tokens(df, {"text": "text", "svc": "text"})
    idx = build_inverted_index(
        tok, {"text": "__tok_text", "svc": "__tok_svc"},
        id_cols=["mid", "rid"])
    plain = SearchTable.from_typed(
        df, {"text": "text", "svc": "text", "code": "keyword",
             "body": "keyword"},
        ts_col="ts", rid_col="rid", assume_folded=True,
    )

    def indexed(min_bytes):
        return plain.attach_index(idx, ["text", "svc"], ["mid", "rid"],
                                  two_phase_min_doc_bytes=min_bytes)

    return plain, indexed


def _routing_fuzz_query(rng):
    """1-3 conjuncts drawn so some queries are fully index-covered
    (two-phase eligible) and some carry an uncovered conjunct (the
    router must fall back): token eq / wildcard / in() on covered
    fields, numeric range on the uncovered `code`."""
    leaves = []
    for _ in range(rng.randint(1, 3)):
        kind = rng.randint(0, 4)
        if kind == 0:
            leaves.append(f"text:{rng.choice(_WORDS)}")
        elif kind == 1:
            leaves.append(f"svc:{rng.choice(_SERVICES)}")
        elif kind == 2:
            leaves.append(f"text:{rng.choice(_WORDS)[:2]}*")
        elif kind == 3:
            a, b = rng.sample(_WORDS, 2)
            leaves.append(f"text:in({a}, {b})")
        else:
            lo = rng.randint(0, 60)
            leaves.append(f"code:[{lo}, {lo + rng.randint(5, 40)})")
    return " and ".join(leaves)


def test_routing_parity_fuzz(routing_rig, monkeypatch):
    import random

    from seqspark import AggQuery, SearchTable
    from test_table_memo import _collects

    plain_tbl, indexed = routing_rig
    calls = []
    orig = SearchTable.two_phase_search

    def spy(self, *a, **k):
        calls.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(SearchTable, "two_phase_search", spy)
    rng = random.Random(20250817)
    served = {"two_phase": 0, "scan": 0}
    for trial in range(120):
        q = _routing_fuzz_query(rng)
        order = rng.choice(["asc", "desc"])
        size = rng.randint(3, 40)
        use_cursor = rng.random() < 0.35
        offset = 0 if use_cursor else rng.choice([0, 0, 5, 17])
        f_ms = t_ms = None
        if rng.random() < 0.5:
            f_ms = EPOCH_MS + rng.randint(0, 90) * 1000
            t_ms = f_ms + rng.randint(10, 120) * 1000
        after = (EPOCH_MS + rng.randint(0, 180) * 1000,
                 rng.randint(0, 400)) if use_cursor else None
        # fresh tables per trial, as the server builds one per snapshot:
        # a plan cache pins every frame it holds, and 2 x 64 indexed
        # frames do not fit the suite's 1 GiB driver heap
        routed_tbl, scan_tbl = indexed(64), indexed(None)

        def run(tbl):
            if after is not None:
                n = len(calls)
                out = tbl.search_after(
                    q, last_ts_ms=after[0], last_rid=after[1],
                    size=size, order=order, from_ms=f_ms,
                    to_ms=t_ms).collect()
                route = "two_phase" if len(calls) > n else "scan"
            else:
                res, collected = _collects(monkeypatch, lambda: (
                    tbl.complex_search(
                        q, from_ms=f_ms, to_ms=t_ms, size=size,
                        offset=offset, order=order)))
                out, route = res.docs, res.route
                # search() is the docs frame of the same construction
                assert tbl.search(
                    q, from_ms=f_ms, to_ms=t_ms, size=size, offset=offset,
                    order=order) is collected[-1]
            return [tuple(r) for r in out], route

        routed_rows, route = run(routed_tbl)
        served[route] += 1
        # same request with routing disabled = the plain scan plan
        scan_rows, scan_route = run(scan_tbl)
        assert scan_route == "scan"
        assert routed_rows == scan_rows, (
            trial, q, order, size, offset, f_ms, t_ms, after, route,
            routed_rows[:3], scan_rows[:3])
        if after is not None:
            continue
        # the complex request with docs routes like the search and
        # answers exactly what the index-less table answers
        kw = dict(from_ms=f_ms, to_ms=t_ms, size=size, offset=offset,
                  order=order, with_total=True,
                  aggs=[AggQuery(func="count", group_by="svc")])
        got = routed_tbl.complex_search(q, **kw)
        want = plain_tbl.complex_search(q, **kw)
        eligible = "code:" not in q  # every other leaf is index-covered
        assert got.route == route == ("two_phase" if eligible else "scan")
        assert want.route == "scan"
        assert [tuple(r) for r in got.docs] == routed_rows
        assert (got.total_count, got.agg_buckets) == (
            want.total_count, want.agg_buckets), (trial, q)
        assert routed_rows == [tuple(r) for r in want.docs]
        # docs and total alone: scanned docs count the total themselves
        # (no fused job), routed docs leave it to a fused total job. Both
        # equal total() and the size=0 fused total
        win = dict(from_ms=f_ms, to_ms=t_ms)
        want_total = plain_tbl.total(q, **win).head()["total"]
        assert want_total == want.total_count == plain_tbl.complex_search(
            q, size=0, with_total=True, **win).total_count, (trial, q)
        del kw["aggs"]
        for tbl in (routed_tbl, plain_tbl):
            res = tbl.complex_search(q, **kw)
            assert res.route == (route if tbl is routed_tbl else "scan")
            assert res.total_count == want_total, (trial, q, res.route)
            assert [tuple(r) for r in res.docs] == routed_rows
            _, _, fused, lock = tbl._complex_plan(
                q, f_ms, t_ms, size, offset, order, True, None, (), False,
                None, None, None)
            if res.route == "two_phase":
                assert [b.func for b in fused.branches] == ["total"]
                assert lock is None
            else:
                assert fused is None and lock is not None, (trial, q)
    # both paths must actually exercise, many times each — a fuzz run
    # that never routes (or never falls back) validates nothing
    assert served["two_phase"] >= 20, served
    assert served["scan"] >= 20, served
