"""seqproxyapi.v1 gRPC service over the engine — the reference's gRPC
public API (`proxyapi/grpc_v1.go`, `api/seqproxyapi/v1/seq_proxy_api.
proto`) re-expressed on the pure-stdlib wire stack
(:mod:`seqspark.wire`).

Every RPC lands on the SAME handler methods the HTTP server exposes
(:class:`seqspark.server.SeqSparkServer` — which also does the heavy
lifting distributed through Spark), so both transports stay behaviorally
identical by construction:

- Search / ComplexSearch / GetAggregation / GetHistogram → unary;
- Fetch / Export → server-streaming ``Document`` / ``ExportResponse``;
- Mapping / Status → unary metadata;
- StartAsyncSearch / FetchAsyncSearchResult / CancelAsyncSearch → the
  persisted async-search jobs (`proxyapi/grpc_async_search.go:15-62`).

Parity details mirrored from the reference:

- ``seq.ID`` string form = 16 lowercase hex chars of the LITTLE-ENDIAN
  mid, '-', 16 hex chars of the little-endian rid (33 bytes total,
  `seq/seq.go:37-59` Bytes / `seq/seq.go:69-90` FromString);
- malformed ids in Fetch are skipped, not errors
  (`proxyapi/grpc_fetch.go:38-47`);
- ``Search`` demands ``size > 0`` → INVALID_ARGUMENT
  (`proxyapi/grpc_search.go:19-21`);
- intervals are ES-style single-unit durations (``500ms``/``5s``/``1m``/
  ``2h``/``1d``/``1w``/``1M``/``1q``/``1y``, `util/data_units.go:9-55`);
- the ``use-seq-ql`` request-metadata key selects the query dialect
  (`storeapi/grpc_search.go:206-216`);
- responses carry ``Error{code: ERROR_CODE_NO}`` on success.
"""

from __future__ import annotations

import json
import math
import time
from typing import Iterator, List, Optional, Tuple

from .wire import seqproxy as sp
from .store import TooManyFractionsHit
from .wire.grpc import (
    INVALID_ARGUMENT,
    NOT_FOUND,
    RESOURCE_EXHAUSTED,
    UNKNOWN,
    GrpcError,
    GrpcServer,
    Method,
)

SERVICE = "/seqproxyapi.v1.SeqProxyApi"

_NO_ERROR = {"code": sp.ERROR_CODE_NO, "message": ""}


def _apply_partial(resp: dict, out: dict) -> dict:
    """Mark a response that came from a degraded store read: the
    reference's proxy sets BOTH the boolean and
    Error{PARTIAL_RESPONSE} when a store errored
    (`grpc_complex_search.go:54`, `seq_proxy_api.proto` ErrorCode)."""
    resp["partial_response"] = bool(out.get("partial_response"))
    if resp["partial_response"]:
        resp["error"] = {"code": sp.ERROR_CODE_PARTIAL_RESPONSE,
                         "message": "partial response"}
    return resp

_DURATION_UNITS_MS = {
    "s": 1000,
    "m": 60_000,
    "h": 3_600_000,
    "d": 86_400_000,
    "w": 7 * 86_400_000,
    "M": 30 * 86_400_000,
    "q": 91 * 86_400_000,
    "y": 365 * 86_400_000,
}


def seq_id_str(mid: int, rid: int) -> str:
    """`seq/seq.go:37-59`: hex of little-endian uint64s, '-'-joined."""
    return (
        int(mid).to_bytes(8, "little").hex()
        + "-"
        + (int(rid) & (1 << 64) - 1).to_bytes(8, "little").hex()
    )


def seq_id_parse(s: str) -> Tuple[int, int]:
    """`seq/seq.go:69-90` FromString: exactly 33 chars, two hex halves.

    The wire value is a uint64 (the reference's RID type); the engine
    stores rid as a signed BIGINT column, so the high half maps back to
    the signed domain — ``seq_id_parse(seq_id_str(m, r)) == (m, r)`` for
    any signed r, with identical wire bytes either way."""
    if len(s) != 33:
        raise ValueError("wrong id len, should be 33")
    if s[16] != "-":
        raise ValueError("missing '-' separator at position 16")
    mid = int.from_bytes(bytes.fromhex(s[:16]), "little")
    rid = int.from_bytes(bytes.fromhex(s[17:]), "little", signed=True)
    return mid, rid


def parse_es_duration(s: str) -> int:
    """ES-style duration -> milliseconds (`util/data_units.go:9-55`):
    integer + one unit; 'ms' is the only two-char unit."""
    if len(s) < 2:
        raise ValueError(f"error parse interval {s!r}")
    if s[-2] == "m":
        if s[-1] != "s":
            raise ValueError(f"error parse interval {s!r}")
        num, unit_ms = s[:-2], 1
    elif s[-1] in _DURATION_UNITS_MS:
        num, unit_ms = s[:-1], _DURATION_UNITS_MS[s[-1]]
    else:
        raise ValueError(f"error parse interval {s!r}")
    try:
        return int(num) * unit_ms
    except ValueError:
        raise ValueError(f"error parse interval {s!r}") from None


class SeqProxyGrpc:
    """gRPC front end bound to a :class:`~seqspark.server.SeqSparkServer`
    core (construct the core with ``port=0`` and never ``start()`` it if
    only the gRPC transport is wanted — both can serve concurrently)."""

    def __init__(self, core, host: str = "127.0.0.1", port: int = 0,
                 tls_cert=None, tls_key=None):
        self.core = core
        m = lambda fn, req, resp, streaming=False: Method(
            fn, req, resp, server_streaming=streaming
        )
        self._server = GrpcServer(
            {
                f"{SERVICE}/Search": m(
                    self.search, sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE
                ),
                f"{SERVICE}/ComplexSearch": m(
                    self.complex_search,
                    sp.COMPLEX_SEARCH_REQUEST,
                    sp.COMPLEX_SEARCH_RESPONSE,
                ),
                f"{SERVICE}/GetAggregation": m(
                    self.get_aggregation,
                    sp.GET_AGGREGATION_REQUEST,
                    sp.GET_AGGREGATION_RESPONSE,
                ),
                f"{SERVICE}/GetHistogram": m(
                    self.get_histogram,
                    sp.GET_HISTOGRAM_REQUEST,
                    sp.GET_HISTOGRAM_RESPONSE,
                ),
                f"{SERVICE}/Fetch": m(
                    self.fetch, sp.FETCH_REQUEST, sp.DOCUMENT, streaming=True
                ),
                f"{SERVICE}/Export": m(
                    self.export, sp.EXPORT_REQUEST, sp.EXPORT_RESPONSE,
                    streaming=True,
                ),
                f"{SERVICE}/Mapping": m(
                    self.mapping, sp.MAPPING_REQUEST, sp.MAPPING_RESPONSE
                ),
                f"{SERVICE}/Status": m(
                    self.status, sp.STATUS_REQUEST, sp.STATUS_RESPONSE
                ),
                f"{SERVICE}/StartAsyncSearch": m(
                    self.start_async,
                    sp.START_ASYNC_SEARCH_REQUEST,
                    sp.START_ASYNC_SEARCH_RESPONSE,
                ),
                f"{SERVICE}/FetchAsyncSearchResult": m(
                    self.fetch_async,
                    sp.FETCH_ASYNC_SEARCH_RESULT_REQUEST,
                    sp.FETCH_ASYNC_SEARCH_RESULT_RESPONSE,
                ),
                f"{SERVICE}/CancelAsyncSearch": m(
                    self.cancel_async,
                    sp.CANCEL_ASYNC_SEARCH_REQUEST,
                    sp.CANCEL_ASYNC_SEARCH_RESPONSE,
                ),
            },
            host=host,
            port=port,
            tls_cert=tls_cert,
            tls_key=tls_key,
        )
    @property
    def port(self) -> Optional[int]:
        """Bound port — None until :meth:`start` binds the listener."""
        return self._server.port

    def start(self) -> "SeqProxyGrpc":
        self._server.start()
        return self

    def stop(self) -> None:
        self._server.stop()

    # ------------------------------------------------------------ plumbing

    @staticmethod
    def _dialect(metadata: dict) -> Optional[str]:
        """`storeapi/grpc_search.go:206-216`: the `use-seq-ql` metadata
        key routes between dialects; Go strconv.ParseBool truth set,
        parse errors → false → legacy."""
        hdr = metadata.get("use-seq-ql")
        if hdr is None:
            return None
        return "seqql" if hdr.strip().lower() in ("1", "t", "true") else "legacy"

    def _http_req(self, query: dict, metadata: dict, **extra) -> dict:
        req = {
            "query": query.get("query") or "*",
            "from_ms": sp.ts_to_ms(query.get("from")),
            "to_ms": sp.ts_to_ms(query.get("to")),
        }
        # absent metadata falls back to the server's default dialect
        # (`--use-seq-ql-by-default`), same as the HTTP surface
        req["dialect"] = self._dialect(metadata) or self.core.default_dialect
        if query.get("explain"):
            req["explain"] = True
        req.update(extra)
        return req

    @staticmethod
    def _agg_queries(aggs: List[dict]) -> List[dict]:
        out = []
        for a in aggs:
            func = sp.AGG_FUNC.get(a.get("func", 0))
            if func is None:
                raise GrpcError(INVALID_ARGUMENT, f"unknown agg func {a.get('func')}")
            q: dict = {"func": func}
            if a.get("field"):
                q["field"] = a["field"]
            if a.get("group_by"):
                q["group_by"] = a["group_by"]
            if a.get("quantiles"):
                q["quantiles"] = list(a["quantiles"])
            if a.get("interval") is not None:
                try:
                    q["interval_ms"] = parse_es_duration(a["interval"])
                except ValueError as e:
                    raise GrpcError(
                        INVALID_ARGUMENT, f"failed to parse 'interval': {e}"
                    ) from None
            out.append(q)
        return out

    @staticmethod
    def _doc_proto(doc: dict) -> dict:
        mid = int(doc["mid"])
        data = doc.get("data") or ""
        return {
            "id": seq_id_str(mid, int(doc["rid"])),
            "data": data.encode("utf-8") if isinstance(data, str) else data,
            "time": sp.ms_to_ts(mid),
        }

    @staticmethod
    def _agg_proto(rows: List[dict]) -> dict:
        """HTTP agg bucket rows (mid_ms/name/value/not_exists/q*) ->
        proto Aggregation. Result-level not_exists = docs whose agg field
        is missing: the per-bucket counts summed, plus the legacy
        `_not_exists` count bucket (`frac/processor/aggregator.go:83-87`,
        `:219-227`)."""
        buckets = []
        total_ne = 0
        for r in rows:
            value = r.get("value")
            if value is None:
                value = float("nan")
            qkeys = sorted(
                (k for k in r if k.startswith("q") and k[1:].isdigit()),
                key=lambda k: int(k[1:]),
            )
            b = {
                "key": "" if r.get("name") is None else str(r["name"]),
                "value": float(value),
                "not_exists": int(r.get("not_exists") or 0),
                "quantiles": [
                    float("nan") if r[k] is None else float(r[k]) for k in qkeys
                ],
            }
            if r.get("mid_ms") is not None:
                b["ts"] = sp.ms_to_ts(int(r["mid_ms"]))
            total_ne += b["not_exists"]
            if b["key"] == "_not_exists":
                total_ne += int(b["value"]) if not math.isnan(b["value"]) else 0
            buckets.append(b)
        return {"buckets": buckets, "not_exists": total_ne}

    @staticmethod
    def _hist_proto(hist: dict) -> dict:
        return {
            "buckets": [
                {"doc_count": int(cnt), "ts": sp.ms_to_ts(int(ms))}
                for ms, cnt in sorted(
                    ((int(k), v) for k, v in hist.items())
                )
            ]
        }

    @classmethod
    def _complex_proto(cls, out: dict) -> dict:
        resp: dict = {
            "total": int(out.get("total", 0)),
            "docs": [cls._doc_proto(d) for d in out.get("docs", [])],
            "aggs": [cls._agg_proto(rows) for rows in out.get("aggs", [])],
            "error": _NO_ERROR,
        }
        if out.get("histogram") is not None:
            resp["hist"] = cls._hist_proto(out["histogram"])
        explain = out.get("explain")
        if isinstance(explain, dict):  # the core's span tree
            resp["explain"] = cls._explain_proto(explain)
        elif explain:
            resp["explain"] = {"message": explain, "children": []}
        return _apply_partial(resp, out)

    # -------------------------------------------------- admission control

    def _admit(self, path: str, hreq: dict) -> None:
        """The HTTP handler's admission control applied identically to
        gRPC (the reference enforces both on its gRPC path:
        `proxyapi/grpc_v1.go:156-167` rate-limit keying, `:219-222`
        codes.ResourceExhausted; `--search-requests-limit` semaphore).
        Callers must hold the semaphore via _admitted()."""
        self.core._count("search_total")
        if not self.core._rate_check(path, hreq):
            self.core._count("rate_limited_total")
            raise GrpcError(RESOURCE_EXHAUSTED, "request was rate limited")

    def _admitted(self, path: str, hreq: dict, fn):
        """Run ``fn()`` under the inflight-search semaphore + rate check,
        with the HTTP server's slow-search log on the way out."""
        if not self.core._searches.acquire(blocking=False):
            raise GrpcError(RESOURCE_EXHAUSTED, "too many requests")
        try:
            self._admit(path, hreq)
            if path in ("/search", "/complex"):
                # load mirroring, same as the HTTP handler: the RESOLVED
                # request re-sent fire-and-forget (`grpc_v1.go:335-355`)
                self.core._try_mirror(path, json.dumps(hreq).encode())
            t0 = time.perf_counter()
            out = fn()
            took_ms = (time.perf_counter() - t0) * 1000
            if took_ms >= self.core._slow_ms:
                import logging

                logging.getLogger("seqspark.server").warning(
                    "slow search took=%.0fms path=grpc%s query=%r",
                    took_ms, path, hreq.get("query", ""),
                )
            return out
        finally:
            self.core._searches.release()

    # ------------------------------------------------------------- methods

    @staticmethod
    def _require_query_window(req: dict) -> None:
        """`proxyapi/grpc_v1.go:186-191` — the doSearch validation shared
        by Search/ComplexSearch/GetAggregation/GetHistogram/Export: the
        query message and its from/to window are REQUIRED. At 100 TB an
        accidental unbounded search is a full-corpus scan; the reference
        refuses it at the API boundary and so do we. (StartAsyncSearch is
        exempt, matching `grpc_async_search.go:15`'s nil-safe getters.)"""
        q = req.get("query")
        if not q:
            raise GrpcError(INVALID_ARGUMENT, "search query must be provided")
        if q.get("from") is None or q.get("to") is None:
            raise GrpcError(
                INVALID_ARGUMENT,
                'search query "from" and "to" fields must be provided',
            )

    def search(self, req: dict, metadata: dict) -> dict:
        self._require_query_window(req)
        if (req.get("size") or 0) <= 0:
            # `proxyapi/grpc_search.go:19-21`
            raise GrpcError(INVALID_ARGUMENT, '"size" must be greater than 0')
        hreq = self._http_req(
            req.get("query") or {},
            metadata,
            size=req["size"],
            offset=req.get("offset", 0),
            order=sp.ORDER.get(req.get("order", 0), "desc"),
            with_total=req.get("with_total", False),
        )
        try:
            out = self._admitted("/search", hreq, lambda: self.core.search(hreq))
        except TooManyFractionsHit as e:
            return {"error": self._fractions_error(e)}
        return _apply_partial({
            "total": int(out.get("total", 0)),
            "docs": [self._doc_proto(d) for d in out.get("docs", [])],
            "error": _NO_ERROR,
        }, out)

    @staticmethod
    def _fractions_error(e: Exception) -> dict:
        """`parseProxyError` (`proxyapi/grpc_v1.go:417-425`): the
        fraction-limit breach is NOT a gRPC status error — the response
        carries Error{TOO_MANY_FRACTIONS_HIT} and no payload
        (shouldHaveResponse=false)."""
        return {
            "code": sp.ERROR_CODE_TOO_MANY_FRACTIONS_HIT,
            "message": str(e),
        }

    def _complex_req(self, req: dict, metadata: dict) -> dict:
        hreq = self._http_req(
            req.get("query") or {},
            metadata,
            size=req.get("size", 0),
            offset=req.get("offset", 0),
            order=sp.ORDER.get(req.get("order", 0), "desc"),
            with_total=req.get("with_total", False),
            aggs=self._agg_queries(req.get("aggs", [])),
        )
        hist = req.get("hist")
        if hist:
            try:
                hreq["hist_interval_ms"] = parse_es_duration(hist["interval"])
            except ValueError as e:
                raise GrpcError(
                    INVALID_ARGUMENT, f"failed to parse 'interval': {e}"
                ) from None
        # the gRPC surface carries the STRUCTURED span tree, built by the
        # core on the request's own table instead of the HTTP string
        if "explain" in hreq:
            hreq["explain"] = "tree"
        return hreq

    @staticmethod
    def _duration_proto(sec: float) -> dict:
        whole = int(sec)
        return {"seconds": whole, "nanos": int((sec - whole) * 1e9)}

    @classmethod
    def _explain_proto(cls, tree: dict) -> dict:
        """engine.explain_tree span -> ExplainEntry (message + Duration +
        nested children), the tracer shape of `proxy/search/ingestor.go:
        576` / `grpc_complex_search.go:58`."""
        return {
            "message": tree["message"],
            "duration": cls._duration_proto(float(tree.get("duration_sec", 0.0))),
            "children": [cls._explain_proto(c) for c in tree.get("children", [])],
        }

    def complex_search(self, req: dict, metadata: dict) -> dict:
        self._require_query_window(req)
        if (
            (req.get("size") or 0) <= 0
            and not req.get("hist")
            and not req.get("aggs")
        ):
            # `grpc_complex_search.go:20-22`
            raise GrpcError(
                INVALID_ARGUMENT,
                'one of "size", "hist" or "aggs" must be provided',
            )
        hreq = self._complex_req(req, metadata)
        try:
            # the explain tree is built inside the admission window, so its
            # planning pass counts against --search-requests-limit too
            out = self._admitted("/complex", hreq,
                                 lambda: self.core.complex(hreq))
        except TooManyFractionsHit as e:
            return {"error": self._fractions_error(e)}
        return self._complex_proto(out)

    def get_aggregation(self, req: dict, metadata: dict) -> dict:
        self._require_query_window(req)
        if not req.get("aggs"):
            # `grpc_get_aggregation.go:18-20`
            raise GrpcError(INVALID_ARGUMENT, "agg query must be provided")
        creq = {"query": req.get("query"), "aggs": req.get("aggs", []),
                "with_total": True}
        hreq = self._complex_req(creq, metadata)
        try:
            out = self._admitted("/complex", hreq, lambda: self.core.complex(hreq))
        except TooManyFractionsHit as e:
            return {"error": self._fractions_error(e)}
        return _apply_partial({
            "total": int(out.get("total", 0)),
            "aggs": [self._agg_proto(rows) for rows in out.get("aggs", [])],
            "error": _NO_ERROR,
        }, out)

    def get_histogram(self, req: dict, metadata: dict) -> dict:
        self._require_query_window(req)
        hist = req.get("hist")
        if not hist or not hist.get("interval"):
            raise GrpcError(INVALID_ARGUMENT, "'hist.interval' must be set")
        creq = {"query": req.get("query"), "hist": hist, "with_total": True}
        hreq = self._complex_req(creq, metadata)
        try:
            out = self._admitted("/complex", hreq, lambda: self.core.complex(hreq))
        except TooManyFractionsHit as e:
            return {"error": self._fractions_error(e)}
        return _apply_partial({
            "total": int(out.get("total", 0)),
            "hist": self._hist_proto(out.get("histogram") or {}),
            "error": _NO_ERROR,
        }, out)

    def fetch(self, req: dict, metadata: dict) -> Iterator[dict]:
        raw_ids = req.get("ids", [])
        from .engine import MAX_SEARCH_DOCS

        if len(raw_ids) > MAX_SEARCH_DOCS:
            # `grpc_fetch.go:48-51` MaxRequestedDocuments guard — on the
            # RAW list, before any parse work, so an oversized request
            # cannot buy unbounded pre-validation CPU
            raise GrpcError(
                INVALID_ARGUMENT,
                f"too many documents are requested: count={len(raw_ids)}",
            )
        ids = []
        for s in raw_ids:
            try:
                ids.append(seq_id_parse(s))
            except ValueError:
                continue  # logged-and-skipped in the reference
        hreq: dict = {"ids": ids}
        ff = req.get("fields_filter")
        if ff and ff.get("fields"):
            hreq["fields"] = list(ff["fields"])
            hreq["except"] = not ff.get("allow_list", False)
        out = self._admitted("/fetch", hreq, lambda: self.core.fetch(hreq))
        return iter([self._doc_proto(d) for d in out.get("docs", [])])

    def export(self, req: dict, metadata: dict) -> Iterator[dict]:
        self._require_query_window(req)
        from .engine import MAX_SEARCH_DOCS

        if (req.get("size") or 0) > MAX_SEARCH_DOCS:
            # `grpc_export.go:29-32` MaxRequestedDocuments guard
            raise GrpcError(
                INVALID_ARGUMENT,
                f"too many documents are requested: "
                f"count={req.get('size')}, max={MAX_SEARCH_DOCS}",
            )
        hreq = self._http_req(
            req.get("query") or {},
            metadata,
            size=req.get("size") or None,
            offset=req.get("offset", 0),
        )
        # like the HTTP /export handler, the semaphore is held for the
        # WHOLE drain (an export is a long-lived search slot)
        if not self.core._searches.acquire(blocking=False):
            raise GrpcError(RESOURCE_EXHAUSTED, "too many requests")
        try:
            self._admit("/export", hreq)
            rows = self.core.export_docs(hreq)
        except TooManyFractionsHit as e:
            self.core._searches.release()
            # `grpc_export.go:55-57`: export surfaces the breach as a plain
            # error status, not a response-carried Error
            raise GrpcError(UNKNOWN, str(e)) from None
        except BaseException:
            self.core._searches.release()
            raise

        def docs():
            try:
                for mid, rid, raw in rows:
                    yield {
                        "doc": {
                            "id": seq_id_str(mid, rid),
                            "data": raw.encode("utf-8"),
                            "time": sp.ms_to_ts(mid),
                        }
                    }
            finally:
                rows.close()
                self.core._searches.release()

        return docs()

    def mapping(self, req: dict, metadata: dict) -> dict:
        """`proxyapi/grpc_mapping.go`: the raw mapping bytes (field →
        type map, the same shape /status's ``fields`` carries). Built
        from the mapping alone — an empty store (no parquet yet) must
        still answer, as the reference's config-backed endpoint does."""
        from .engine import mapping_dict

        fields = mapping_dict(self.core.mapping)
        return {"data": json.dumps(fields, sort_keys=True).encode()}

    def status(self, req: dict, metadata: dict) -> dict:
        st = self.core.status()
        oldest = st.get("oldest_ms")
        values = {"oldest_time": sp.ms_to_ts(int(oldest))} if oldest is not None else None
        return {
            "number_of_stores": 1,
            "oldest_storage_time": sp.ms_to_ts(int(oldest)) if oldest is not None else None,
            "stores": [{"host": "local", "values": values, "error": None}],
        }

    def start_async(self, req: dict, metadata: dict) -> dict:
        creq = self._complex_req(
            {
                "query": req.get("query"),
                "aggs": req.get("aggs", []),
                "hist": req.get("hist"),
                "order": req.get("order", 0),
            },
            metadata,
        )
        # the reference's async search always materializes the matching
        # ids/docs (FetchAsyncSearchResult pages WITHIN the stored result,
        # `grpc_async_search.go:45-68`); store up to the engine's search
        # cap and the total, so a query-only async request is valid
        from .engine import MAX_SEARCH_DOCS

        creq["size"] = MAX_SEARCH_DOCS
        creq["with_total"] = True
        retention = sp.duration_to_sec(req.get("retention"))
        if retention:
            creq["ttl_sec"] = int(retention)
        # same admission control as the HTTP /async/start handler: the
        # start itself is cheap, but it spawns a background complex_search
        # — without the rate check one client could loop StartAsyncSearch
        # and bypass --query-rate-limit entirely
        out = self._admitted(
            "/async/start", creq, lambda: self.core.async_start(creq)
        )
        return {"search_id": out["search_id"]}

    def fetch_async(self, req: dict, metadata: dict) -> dict:
        hreq = {
            "search_id": req.get("search_id", ""),
            "with_docs": req.get("with_docs", False),
            "offset": req.get("offset", 0),
        }
        if req.get("size"):
            hreq["size"] = req["size"]
        try:
            out = self.core.async_fetch(hreq)
        except KeyError as e:
            # unknown search_id → NotFound on the wire (and 404 through
            # the gateway), not an unhandled handler exception
            raise GrpcError(NOT_FOUND, str(e.args[0])) from None
        resp: dict = {
            "done": bool(out.get("done")),
            "expiration": sp.ms_to_ts(out.get("expiration_ms")),
        }
        if out.get("response") is not None:
            resp["response"] = self._complex_proto(out["response"])
        return resp

    def cancel_async(self, req: dict, metadata: dict) -> dict:
        job_id = req.get("search_id", "")
        if self.core._async.status(job_id) is None:
            raise GrpcError(NOT_FOUND, f"unknown search_id {job_id!r}")
        self.core._async.cancel(job_id)
        return {}
