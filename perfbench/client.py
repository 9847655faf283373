"""Load-generator side: send one request over HTTP or gRPC, time it at
the client, and reduce the response to what the answer checks compare."""

from __future__ import annotations

import http.client
import json
import time
from dataclasses import dataclass, field
from typing import Optional

from corpus import Request

_GRPC_SVC = "/seqproxyapi.v1.SeqProxyApi"
_TIMEOUT_S = 60.0


@dataclass
class Op:
    """One attempted operation. ``error`` is set when it failed at the
    transport (error status, timeout, bad body); the answer check fills
    ``wrong`` afterwards."""

    kind: str            # search / complex / bulk
    transport: str       # http / grpc
    sent: float          # perf_counter at send
    latency_ms: float
    error: Optional[str] = None
    answer: Optional[dict] = None
    wrong: Optional[str] = None
    req: Optional[Request] = None
    cpu_ms: Optional[float] = None  # server CPU while the op was in flight
    ctx: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None or self.wrong is not None


def http_post(port: int, path: str, body: bytes):
    """POST and read the whole reply; returns (status, body bytes)."""
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=_TIMEOUT_S)
    try:
        conn.request("POST", path, body=body,
                     headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Client:
    """Both transports of one live server, used from one thread each."""

    def __init__(self, http_port: int, grpc_port: Optional[int] = None):
        self.http_port = http_port
        self._grpc = None
        if grpc_port is not None:
            from seqspark.wire import seqproxy
            from seqspark.wire.grpc import GrpcChannel

            self._sp = seqproxy
            self._grpc = GrpcChannel("127.0.0.1", grpc_port, timeout=_TIMEOUT_S)

    def close(self) -> None:
        if self._grpc is not None:
            self._grpc.close()

    def bulk(self, body: bytes) -> Op:
        t0 = time.perf_counter()
        try:
            status, raw = http_post(self.http_port, "/_bulk", body)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            return Op("bulk", "http", t0, _ms(t0), error=f"bulk: {e!r}")
        op = Op("bulk", "http", t0, _ms(t0))
        if status != 200:
            op.error = f"bulk status {status}: {raw[:200]!r}"
        elif json.loads(raw).get("errors"):
            op.error = f"bulk item errors: {raw[:200]!r}"
        return op

    def send(self, req: Request) -> Op:
        if req.transport == "grpc":
            return self._send_grpc(req)
        path = "/search" if req.kind == "search" else "/complex"
        body = json.dumps(req.http_body()).encode()
        t0 = time.perf_counter()
        try:
            status, raw = http_post(self.http_port, path, body)
            lat = _ms(t0)
            if status != 200:
                return Op(req.kind, "http", t0, lat, req=req,
                          error=f"status {status}: {raw[:200]!r}")
            answer = _from_http(json.loads(raw))
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            return Op(req.kind, "http", t0, _ms(t0), req=req, error=repr(e))
        return Op(req.kind, "http", t0, lat, answer=answer, req=req)

    def _send_grpc(self, req: Request) -> Op:
        sp = self._sp
        query = {"query": req.query, "from": sp.ms_to_ts(req.from_ms),
                 "to": sp.ms_to_ts(req.to_ms)}
        msg: dict = {"query": query, "size": req.size, "offset": req.offset,
                     "with_total": req.with_total,
                     "order": 1 if req.order == "asc" else 0}
        if req.kind == "search":
            method, rq, rs = "Search", sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE
        else:
            method = "ComplexSearch"
            rq, rs = sp.COMPLEX_SEARCH_REQUEST, sp.COMPLEX_SEARCH_RESPONSE
            funcs = {v: k for k, v in sp.AGG_FUNC.items()}
            msg["aggs"] = [
                {k: v for k, v in (("func", funcs[fn]), ("field", fld),
                                   ("group_by", gb)) if v is not None}
                for fn, fld, gb in req.aggs
            ]
            if req.hist_ms is not None:
                msg["hist"] = {"interval": f"{req.hist_ms}ms"}
        t0 = time.perf_counter()
        try:
            resp = self._grpc.unary(f"{_GRPC_SVC}/{method}", msg, rq, rs)
            lat = _ms(t0)
            if resp.get("error", {}).get("code", sp.ERROR_CODE_NO) != sp.ERROR_CODE_NO:
                return Op(req.kind, "grpc", t0, lat, req=req,
                          error=f"grpc error {resp['error']}")
            answer = _from_grpc(resp, sp)
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            return Op(req.kind, "grpc", t0, _ms(t0), req=req, error=repr(e))
        return Op(req.kind, "grpc", t0, lat, answer=answer, req=req)


def _ms(t0: float) -> float:
    return (time.perf_counter() - t0) * 1000.0


def _event_id(data) -> str:
    if isinstance(data, bytes):
        data = data.decode()
    return json.loads(data)["event_id"]


def _from_http(resp: dict) -> dict:
    """HTTP /search or /complex reply -> the checked answer."""
    out = {
        "page": [(int(d["mid"]), int(d["rid"]), _event_id(d["data"]))
                 for d in resp.get("docs", [])],
        "total": resp.get("total"),
        "histogram": None,
        "aggs": [
            {str(r.get("name")): float(r["value"]) for r in rows}
            for rows in resp.get("aggs", [])
        ],
    }
    if resp.get("histogram") is not None:
        out["histogram"] = {int(k): int(v) for k, v in resp["histogram"].items()}
    return out


def _from_grpc(resp: dict, sp) -> dict:
    from seqspark.grpcapi import seq_id_parse

    page = []
    for d in resp.get("docs", []):
        mid, rid = seq_id_parse(d["id"])
        page.append((mid, rid, _event_id(d["data"])))
    out = {
        "page": page,
        "total": resp.get("total"),
        "histogram": None,
        "aggs": [
            {b.get("key", ""): float(b.get("value", 0.0))
             for b in agg.get("buckets", [])}
            for agg in resp.get("aggs", [])
        ],
    }
    if resp.get("hist"):
        out["histogram"] = {
            sp.ts_to_ms(b.get("ts")): int(b.get("doc_count", 0))
            for b in resp["hist"].get("buckets", [])
        }
    return out
