"""Minimal ES-compatible HTTP front end (stdlib only) over the engine.

HTTP parity with the reference's proxy server (`proxyapi/http_server.go:
61-85`, `proxyapi/http_bulk.go:105-266`):

- ``GET /``           → fake ES version banner (shipper compatibility);
- ``POST /_bulk``     → NDJSON bulk ingest, gzip supported, per-item
  statuses, HTTP 429 when more than ``max_inflight`` bulks are in flight
  (reference `consts/consts.go:50` caps at 32);
- ``GET /status``     → doc count + time bounds + mapping
  (`proxyapi/grpc_status.go` / `grpc_mapping.go`);
- ``POST /search``    → JSON ``{"query", "from_ms", "to_ms", "size",
  "offset", "order", "with_total"}`` → matching docs (+ total), the
  Search/ComplexSearch shape of `proxyapi/grpc_v1.go:175-254`.

This is a thin network veneer: parsing/serving is driver-side Python (the
reference proxy is the same kind of coordinator); all heavy work —
tokenization, filtering, aggregation — runs distributed through
:mod:`seqspark.ingest` / :class:`seqspark.engine.SearchTable`. Spark job
submission is thread-safe, so the threading HTTP server maps cleanly onto
concurrent queries.
"""

from __future__ import annotations

import datetime as _dt
import json
import logging
import threading
import time
import urllib.request
from contextlib import contextmanager
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Optional

logger = logging.getLogger("seqspark.server")

from pyspark.sql import SparkSession

from .bulk import (
    ES_BANNER,
    MAX_BULK_BODY_BYTES,
    BadBulkRequest,
    bulk_to_df,
    parse_bulk_body,
)
from .circuitbreaker import CircuitBreaker
from .engine import SearchTable
from .ingest import make_ingest_transform
from .mapping import Mapping
from .ratelimit import RateLimiter, fetch_key, search_key
from .store import DocStore, StoreSnapshot
from .streaming import AsyncSearcher

#: reference `consts/consts.go:50` IngestorMaxInflightBulks
MAX_INFLIGHT_BULKS = 32

#: reference `docs/en/02-flags.md` --log-search-threshold-ms default
LOG_SEARCH_THRESHOLD_MS = 3000

#: reference `docs/en/02-flags.md` --search-requests-limit default
MAX_INFLIGHT_SEARCHES = 30

#: reference `consts/consts.go:44` MirrorRequestLimit
MIRROR_REQUEST_LIMIT = 300

#: the document columns /search and /complex serve; passed to the engine
#: so the plan-cached frame is the one collected (no per-request select)
_DOC_COLUMNS = ("mid", "rid", "raw")


class SeqSparkServer:
    """Bind a DocStore + mapping to an HTTP endpoint."""

    def __init__(
        self,
        spark: SparkSession,
        store: DocStore,
        mapping: Mapping,
        host: str = "127.0.0.1",
        port: int = 0,
        max_inflight: int = MAX_INFLIGHT_BULKS,
        allowed_drift_ms: Optional[int] = None,
        future_drift_ms: Optional[int] = None,
        log_search_threshold_ms: int = LOG_SEARCH_THRESHOLD_MS,
        log_bulk_threshold_ms: int = 0,
        log_fetch_threshold_ms: int = LOG_SEARCH_THRESHOLD_MS,
        query_rate_limit: Optional[float] = None,
        bulk_breaker: Optional[CircuitBreaker] = None,
        max_inflight_searches: int = MAX_INFLIGHT_SEARCHES,
        mirror_url: Optional[str] = None,
        async_dir: Optional[str] = None,
        max_fraction_hits: int = 6000,
        async_parallelism: Optional[int] = None,
        es_version: Optional[str] = None,
        case_sensitive: bool = False,
        use_seq_ql_by_default: bool = True,
        index: Optional[object] = None,
        two_phase_min_doc_bytes: Optional[int] = 1024,
    ):
        self.spark = spark
        self.store = store
        # `--enable-mapping-updates`: a MappingProvider serves the mapping
        # live — every request reads the CURRENT mapping through the
        # property below, and a successful reload invalidates the cached
        # ingest transform (the one mapping-derived thing we memoize)
        from .mapping import MappingProvider

        if isinstance(mapping, MappingProvider):
            self._mapping_provider: Optional[MappingProvider] = mapping
            mapping.subscribe(self._on_mapping_update)
            # the OWNER decides whether the watcher runs (the CLI's
            # --enable-mapping-updates gate; the reference's default is
            # updates DISABLED) — auto-starting here made that flag a
            # no-op. Manual provider.reload() always applies.
        else:
            self._mapping_provider = None
            self._mapping = mapping
        self._inflight = threading.Semaphore(max_inflight)
        # per-query-shape admission control (`docs/en/08-rate-limiting.md`):
        # enabled only when the flag is set, like --query-rate-limit
        self._limiter = (
            RateLimiter(query_rate_limit) if query_rate_limit is not None else None
        )
        # bulk overload protection (`--bulk-*` flags; network/circuitbreaker)
        self._breaker = bulk_breaker if bulk_breaker is not None else CircuitBreaker()
        # `--search-requests-limit`: concurrent search admission
        self._searches = threading.Semaphore(max_inflight_searches)
        # `--mirror-addr` load mirroring (`proxyapi/grpc_v1.go:335-355`):
        # search requests are re-sent fire-and-forget, capped in flight
        self._mirror_url = mirror_url
        self._mirror_inflight = 0
        # debug-server surface (`docs/en/internal/debug-server.md`)
        self._metrics_lock = threading.Lock()
        self._counters: dict = {
            "bulk_total": 0,
            "bulk_docs_total": 0,
            "bulk_errors_total": 0,
            "bulk_shed_total": 0,
            "bulk_flushes_total": 0,
            "bulk_flushed_bulks_total": 0,
            "search_total": 0,
            "search_errors_total": 0,
            # /search and /complex requests whose docs the width-routed
            # two-phase (search→fetch) plan served — the reference's wire
            # architecture; stays 0 without an attached index (r16)
            "two_phase_searches_total": 0,
            "partial_responses_total": 0,
            "rate_limited_total": 0,
        }
        self._lock = threading.Lock()  # serialize parquet appends
        # group-commit state: bulks that arrive while an append's Spark
        # job is running queue here and flush together (_append_grouped)
        self._gc_lock = threading.Lock()
        self._gc_pending: list = []
        self._gc_flushing = False
        self._slow_ms = log_search_threshold_ms
        # `--log-bulk-threshold-ms` (default 0 = off) and
        # `--log-fetch-threshold-ms` (default 3000), 0 disables like the
        # reference (`storeapi/grpc_fetch.go:118`)
        self._slow_bulk_ms = log_bulk_threshold_ms
        self._slow_fetch_ms = log_fetch_threshold_ms
        # `--search-fraction-limit` (default 6000): cap how many time
        # partitions one search may touch (`fracmanager/searcher.go:88-97`)
        self._max_fraction_hits = max_fraction_hits
        from .ingest import ALLOWED_DRIFT_MS, FUTURE_DRIFT_MS

        self._drift = ALLOWED_DRIFT_MS if allowed_drift_ms is None else allowed_drift_ms
        self._future = FUTURE_DRIFT_MS if future_drift_ms is None else future_drift_ms
        # `--case-sensitive`: no folding at ingest OR query compile (the
        # reference applies the flag on both sides; a server folding one
        # side only would never match)
        self._case_sensitive = case_sensitive
        # `--use-seq-ql-by-default`: the no-header default dialect. This
        # library's own default stays seq-ql; the CLI passes False to
        # match the reference binary's default (legacy unless opted in)
        self._default_dialect = "seqql" if use_seq_ql_by_default else "legacy"
        # optional StoreIndex (seqspark.index.StoreIndex): attaching it
        # per request wires index routing into every transport — HTTP
        # here, gRPC + the gateway through this core. One width rule
        # picks the route (SearchTable.attach_index): docs at least
        # two_phase_min_doc_bytes wide take the two-phase (search→fetch)
        # plan (the reference's wire architecture,
        # `proxy/search/ingestor.go:140-151`) or the in-plan posting
        # semi-join; narrower docs take the plain scan; None keeps the
        # semi-join whatever the width. The width signal is a
        # driver-side footer read, sampled once per table: a stale width
        # only flips a plan heuristic, never a result.
        self._store_index = index
        self._two_phase_min_doc_bytes = two_phase_min_doc_bytes
        #: snapshot-keyed SearchTable memo: (key, mapping, table) —
        #: see :meth:`_table`. Tuple assignment is atomic under the GIL;
        #: two racing builders both build lazy state and one wins.
        self._st_memo: Optional[tuple] = None
        # lazily-built, reused across bulks (guarded by self._lock)
        self._ingest_transform = None
        # async search jobs (`proxyapi/grpc_async_search.go:15-62` over
        # HTTP): persisted under the store so they survive restarts;
        # `async_dir` overrides for object-store-backed stores (the job
        # registry is driver-local state, like the reference's)
        import os as _os

        self._async = AsyncSearcher(
            spark,
            async_dir
            or _os.path.join(store.path.removeprefix("file:"), "_async_search"),
            parallelism=async_parallelism,
        )
        #: unstarted SeqProxyGrpc backing the gateway routes — handler
        #: reuse only; it binds no socket unless start()ed (eager so two
        #: concurrent first gateway requests can't race a lazy build)
        from .grpcapi import SeqProxyGrpc

        self._gw = SeqProxyGrpc(self)
        # `--es-version`: the version string shippers read off the banner
        # (`proxyapi/ingestor_config.go:18`)
        self._banner = dict(ES_BANNER)
        if es_version is not None:
            self._banner = {**ES_BANNER, "version": {"number": es_version}}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def _json(self, code: int, obj) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _gw_error(self, e) -> None:
                """A gateway GrpcError as grpc-gateway's JSON error."""
                return self._json(outer._GW_HTTP_STATUS.get(e.code, 500),
                                  {"code": e.code, "message": e.message})

            def _ndjson_head(self) -> None:
                """The head of a streamed NDJSON drain: its end is the
                connection's close."""
                self.send_response(200)
                self.send_header("Content-Type", "application/x-ndjson")
                self.send_header("Connection", "close")
                self.end_headers()

            def _admit(self, path: str, req: dict) -> bool:
                """Resolve the request's dialect, count it, and apply the
                rate limit: False once a 429 is sent (the gRPC
                ResourceExhausted analog, `proxyapi/grpc_v1.go:220-222`)."""
                outer._apply_dialect(self.headers, req)
                outer._count("search_total")
                if outer._rate_check(path, req):
                    return True
                outer._count("rate_limited_total")
                self._json(429, {"error": "request was rate limited"})
                return False

            @staticmethod
            def _body_json(body: bytes) -> dict:
                req = json.loads(body.decode() or "{}")
                if not isinstance(req, dict):
                    raise ValueError("request body must be a JSON object")
                return req

            def do_GET(self):
                if self.path == "/":
                    return self._json(200, outer._banner)
                if self.path == "/status":
                    try:
                        return self._json(200, outer.status())
                    except Exception as e:  # a failed read: report it
                        return self._json(500, {"error": str(e)})
                if self.path == "/mappings" or self.path.startswith(
                    "/async-search/"
                ):
                    # gateway GET routes: /mappings, /async-search/{id}
                    # (remaining request fields ride as query params)
                    from urllib.parse import parse_qs, urlparse

                    from . import gateway as gw
                    from .wire import seqproxy as sp
                    from .wire.grpc import GrpcError

                    g = outer._gateway_rpc()
                    md = outer._gw_metadata(self.headers)
                    try:
                        if self.path == "/mappings":
                            return self._json(200, gw.proto_to_json(
                                sp.MAPPING_RESPONSE, g.mapping({}, md)))
                        parsed = urlparse(self.path)
                        req = {"search_id":
                               parsed.path.split("/async-search/")[1]}
                        qs = parse_qs(parsed.query)
                        for k in ("withDocs", "with_docs"):
                            if k in qs:
                                req["with_docs"] = qs[k][0].lower() in (
                                    "1", "t", "true")
                        for k in ("size", "offset"):
                            if k in qs:
                                req[k] = int(qs[k][0])
                        return self._json(200, gw.proto_to_json(
                            sp.FETCH_ASYNC_SEARCH_RESULT_RESPONSE,
                            g.fetch_async(req, md)))
                    except GrpcError as e:
                        return self._gw_error(e)
                    except ValueError as e:
                        # non-integer size/offset query params and the
                        # like are request-shaped: 400, not a dropped
                        # connection from an unhandled handler exception
                        return self._json(400, {"error": str(e)})
                # debug-server surface (`docs/en/internal/debug-server.md`)
                if self.path == "/metrics":
                    body = outer.metrics_text().encode()
                    self.send_response(200)
                    self.send_header(
                        "Content-Type", "text/plain; version=0.0.4"
                    )
                    self.send_header("Content-Length", str(len(body)))
                    self.end_headers()
                    self.wfile.write(body)
                    return
                if self.path == "/async/list":
                    return self._json(200, outer.async_list())
                if self.path == "/live":
                    return self._json(200, {"status": "ok"})
                if self.path == "/readiness":
                    return (
                        self._json(200, {"status": "ready"})
                        if outer.ready()
                        else self._json(503, {"status": "not ready"})
                    )
                if self.path == "/log/level":
                    # zap http_handler contract: GET reports the level
                    # (`docs/en/internal/debug-server.md`)
                    return self._json(200, {"level": outer.log_level()})
                return self._json(404, {"error": "not found"})

            def do_PUT(self):
                # zap http_handler: PUT {"level": "..."} swaps the serving
                # log level at runtime (`docs/en/internal/debug-server.md`,
                # go.uber.org/zap http_handler.go)
                if self.path != "/log/level":
                    return self._json(404, {"error": "not found"})
                try:
                    length = self._content_length()
                    if length > 4096:
                        raise ValueError(length)
                except ValueError:
                    return self._json(
                        400, {"error": "invalid Content-Length header"}
                    )
                try:
                    payload = json.loads(self.rfile.read(length) or b"{}")
                    level = payload.get("level")
                except (ValueError, AttributeError):
                    return self._json(
                        400, {"error": "request body must be valid JSON"}
                    )
                if not level:
                    return self._json(
                        400,
                        {"error":
                         "must specify logging level via the 'level' key"},
                    )
                try:
                    return self._json(
                        200, {"level": outer.set_log_level(level)}
                    )
                except ValueError as e:
                    return self._json(400, {"error": str(e)})

            # per-recv socket timeout: a shipper that stalls mid-body
            # (slowloris / dead connection) must not pin a handler thread
            # forever; handle_one_request catches socket.timeout and
            # closes the connection
            timeout = 300

            def do_DELETE(self):
                # gateway DELETE /async-search/{id} → CancelAsyncSearch
                if self.path.startswith("/async-search/"):
                    from . import gateway as gw
                    from .wire import seqproxy as sp
                    from .wire.grpc import GrpcError

                    g = outer._gateway_rpc()
                    try:
                        out = g.cancel_async(
                            {"search_id":
                             self.path.split("/async-search/")[1]},
                            outer._gw_metadata(self.headers),
                        )
                        return self._json(200, gw.proto_to_json(
                            sp.CANCEL_ASYNC_SEARCH_RESPONSE, out))
                    except GrpcError as e:
                        return self._gw_error(e)
                if self.path == "/log/level":
                    return self._log_level_405()
                return self._json(404, {"error": "not found"})

            def _log_level_405(self):
                # zap http_handler: EVERY non-GET/PUT verb is a 405
                return self._json(
                    405, {"error": "Only GET and PUT are supported."}
                )

            def _unsupported_verb(self):
                if self.path == "/log/level":
                    return self._log_level_405()
                return self._json(501, {"error": "unsupported method"})

            do_PATCH = _unsupported_verb
            do_OPTIONS = _unsupported_verb

            def _gw_export(self, req):
                """Gateway-shaped /export: transcode into the shared
                Export RPC handler (same validation, MaxRequestedDocuments
                cap, admission and semaphore discipline as the real gRPC
                transport), stream grpc-gateway server-streaming frames —
                one ``{"result": ExportResponse}`` JSON object per line."""
                from . import gateway as gw
                from .wire import seqproxy as sp
                from .wire.grpc import GrpcError

                g = outer._gateway_rpc()
                try:
                    frames = g.export(
                        gw.json_to_proto(sp.EXPORT_REQUEST, req),
                        outer._gw_metadata(self.headers),
                    )
                except GrpcError as e:
                    outer._gw_count_error(e.code)
                    return self._gw_error(e)
                except Exception as e:
                    # transcode/validation-shaped: counted like the
                    # native 400 path (a search_total/search_errors pair)
                    outer._count("search_total")
                    outer._count("search_errors_total")
                    return self._json(400, {"error": str(e)})
                self._ndjson_head()
                n = 0
                try:
                    for frame in frames:
                        line = json.dumps({"result": gw.proto_to_json(
                            sp.EXPORT_RESPONSE, frame)})
                        self.wfile.write(line.encode() + b"\n")
                        n += 1
                except Exception as e:
                    # mid-stream failure: emit grpc-gateway's error
                    # frame if the socket still accepts it, then close
                    # (the handler's generator releases the search
                    # semaphore via its own finally)
                    outer._count("search_errors_total")
                    logger.error("export truncated rows=%d: %s", n, e)
                    try:
                        self.wfile.write(json.dumps({"error": {
                            "code": 13, "message": str(e)}}).encode() + b"\n")
                    except OSError:
                        pass
                    self.close_connection = True
                finally:
                    frames.close()

            def _content_length(self) -> int:
                """Parsed Content-Length; ValueError on a malformed or
                negative header (the caller maps it to a 400 — never an
                unhandled handler exception / connection abort)."""
                length = int(self.headers.get("Content-Length", 0))
                if length < 0:
                    raise ValueError(length)
                return length

            def do_POST(self):
                if self.path == "/log/level":
                    # zap http_handler rejects non-GET/PUT verbs explicitly
                    return self._log_level_405()
                try:
                    length = self._content_length()
                except ValueError:
                    return self._json(
                        400, {"error": "invalid Content-Length header"}
                    )
                if length > MAX_BULK_BODY_BYTES:
                    # reject BEFORE buffering: a client-declared length must
                    # not size a server allocation (same discipline as the
                    # wire stack's pre-read MAX_BODY_BYTES check)
                    return self._json(413, {"error": "request body too large"})
                body = self.rfile.read(length)
                gzipped = self.headers.get("Content-Encoding") == "gzip"
                if self.path == "/_bulk":
                    if not outer._inflight.acquire(blocking=False):
                        return self._json(429, {"error": "too many requests"})
                    try:
                        # overload protection: an open circuit sheds the
                        # bulk before any Spark work is planned
                        outer._count("bulk_total")
                        admit = outer._breaker.allow()
                        if not admit:
                            outer._count("bulk_shed_total")
                            return self._json(
                                503, {"error": "circuit breaker open"}
                            )
                        try:
                            _t0 = time.perf_counter()
                            resp = outer.bulk(body, gzipped)
                            _took = (time.perf_counter() - _t0) * 1000
                            if (outer._slow_bulk_ms
                                    and _took >= outer._slow_bulk_ms):
                                # `--log-bulk-threshold-ms` (0 = disabled,
                                # the reference default)
                                logger.warning(
                                    "slow bulk took=%.0fms bytes=%d",
                                    _took, len(body),
                                )
                        except BadBulkRequest as e:
                            # client-shaped error: a 400 that proves nothing
                            # about backend health — recorded as success so
                            # one misbehaving shipper can never open the
                            # circuit and shed everyone else's ingest
                            outer._breaker.record(True, admit)
                            outer._count("bulk_errors_total")
                            return self._json(400, {"error": str(e)})
                        except Exception as e:
                            outer._breaker.record(False, admit)
                            outer._count("bulk_errors_total")
                            return self._json(500, {"error": str(e)})
                        outer._breaker.record(True, admit)
                        return self._json(200, resp)
                    finally:
                        outer._inflight.release()
                if self.path == "/export":
                    # streaming NDJSON drain — Search's streaming twin
                    # (`docs/en/10-public-api.md` /Export). A nested
                    # query object is the gateway ExportRequest shape,
                    # served through the shared Export RPC handler
                    # (validation, caps, admission and metrics included)
                    try:
                        req = self._body_json(body)
                    except Exception as e:
                        outer._count("search_errors_total")
                        return self._json(400, {"error": str(e)})
                    if isinstance(req.get("query"), dict):
                        return self._gw_export(req)
                    if not outer._searches.acquire(blocking=False):
                        return self._json(429, {"error": "too many requests"})
                    try:
                        # everything before the 200 status line is
                        # request-shaped: parse/plan errors become a
                        # clean 400 (the mid-stream path below has its
                        # own handling)
                        try:
                            if not self._admit("/search", req):
                                return
                            lines = outer.export_lines(req)
                        except Exception as e:
                            outer._count("search_errors_total")
                            return self._json(400, {"error": str(e)})
                        self._ndjson_head()
                        # mid-stream failure after the 200 must be
                        # distinguishable from a complete drain: a complete
                        # stream always ends with an explicit
                        # `{"end": true, "rows": N}` sentinel line; a
                        # truncated one lacks it (and is counted).
                        n = 0
                        try:
                            for line in lines:
                                self.wfile.write(line.encode() + b"\n")
                                n += 1
                        except Exception as e:
                            outer._count("search_errors_total")
                            logger.error("export truncated rows=%d: %s", n, e)
                            self.close_connection = True
                            return
                        # gateway streams end by closing; the native
                        # NDJSON shape carries an explicit sentinel
                        self.wfile.write(
                            json.dumps({"end": True, "rows": n}).encode()
                            + b"\n"
                        )
                        return
                    finally:
                        outer._searches.release()
                if self.path == "/async/fetch":
                    # no search semaphore: fetching a finished result is a
                    # metadata + tiny parquet read, not a new search
                    try:
                        resp = outer.async_fetch(self._body_json(body))
                    except KeyError as e:
                        return self._json(404, {"error": str(e.args[0])})
                    except Exception as e:
                        return self._json(400, {"error": str(e)})
                    return self._json(200, resp)
                handlers = {
                    "/search": outer.search,
                    "/complex": outer.complex,
                    "/fetch": outer.fetch,
                    "/async/start": outer.async_start,
                }
                gw_routes = ("/complex-search", "/aggregate",
                             "/histogram", "/async-search")
                if self.path in gw_routes or self.path in handlers:
                    try:
                        req = self._body_json(body)
                    except Exception as e:
                        outer._count("search_errors_total")
                        return self._json(400, {"error": str(e)})
                else:
                    return self._json(404, {"error": "not found"})
                if self.path in gw_routes or (
                    self.path == "/search"
                    and isinstance(req.get("query"), dict)
                ):
                    # grpc-gateway routes (the reference's documented
                    # HTTP surface) — /search with a nested query object
                    # is the gateway SearchRequest shape. Validation,
                    # admission, rate limiting, mirroring and metrics
                    # all run inside the shared gRPC handlers
                    from .wire.grpc import GrpcError

                    try:
                        return self._json(200, outer._gw_call(
                            self.path, req,
                            outer._gw_metadata(self.headers),
                        ))
                    except GrpcError as e:
                        outer._gw_count_error(e.code)
                        return self._gw_error(e)
                    except Exception as e:  # noqa: BLE001 - shaped → 400
                        outer._count("search_total")
                        outer._count("search_errors_total")
                        return self._json(400, {"error": str(e)})
                if self.path in handlers:
                    if not outer._searches.acquire(blocking=False):
                        # `--search-requests-limit` exceeded
                        return self._json(429, {"error": "too many requests"})
                    try:
                        if not self._admit(self.path, req):
                            return
                        # mirror the RESOLVED request (dialect applied from
                        # the use-seq-ql header) — re-sending the raw bytes
                        # would make the mirror parse a legacy query as
                        # seq-ql. Only search-shaped requests are mirrored:
                        # the reference mirrors solely its shared search path
                        # (`grpc_v1.go:291` tryMirrorRequest), never Fetch,
                        # and async starts would spawn duplicate persistent
                        # jobs on the mirror.
                        if self.path in ("/search", "/complex"):
                            outer._try_mirror(self.path, json.dumps(req).encode())
                        t0 = time.perf_counter()
                        resp = handlers[self.path](req)
                        took_ms = (time.perf_counter() - t0) * 1000
                        # per-op slow logs (`--log-search-threshold-ms` /
                        # `--log-fetch-threshold-ms`; reference: 0 disables,
                        # `storeapi/grpc_fetch.go:118`, `grpc_search.go:169`)
                        op, slow = ("fetch", outer._slow_fetch_ms) if (
                            self.path == "/fetch"
                        ) else ("search", outer._slow_ms)
                        if slow and took_ms >= slow:
                            logger.warning(
                                "slow %s took=%.0fms path=%s query=%r",
                                op, took_ms, self.path,
                                req.get("query", ""),
                            )
                        return self._json(200, resp)
                    except Exception as e:  # request-shaped errors → 400
                        outer._count("search_errors_total")
                        return self._json(400, {"error": str(e)})
                    finally:
                        outer._searches.release()

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread: Optional[threading.Thread] = None

    # ------------------------------------------------------------- handlers

    def _count(self, name: str) -> None:
        with self._metrics_lock:
            self._counters[name] += 1

    def metrics_text(self) -> str:
        """Prometheus exposition format (`docs/en/internal/debug-server.md`
        /metrics; metric names follow `metric/` conventions)."""
        with self._metrics_lock:
            counters = dict(self._counters)
        lines = []
        for name, value in sorted(counters.items()):
            lines.append(f"# TYPE seqspark_{name} counter")
            lines.append(f"seqspark_{name} {value}")
        state = self._breaker.state
        lines.append("# TYPE seqspark_bulk_circuit_open gauge")
        lines.append(f'seqspark_bulk_circuit_open{{state="{state}"}} '
                     f"{0 if state == 'closed' else 1}")
        if self._limiter is not None:
            lines.append("# TYPE seqspark_rate_limiter_active_keys gauge")
            lines.append(
                f"seqspark_rate_limiter_active_keys {self._limiter.active_keys()}"
            )
        return "\n".join(lines) + "\n"

    # zap level name <-> python logging level (`/log/level`,
    # `docs/en/internal/debug-server.md`; dpanic/panic/fatal all collapse
    # onto CRITICAL — python has no panic tiers)
    _ZAP_LEVELS = {
        "debug": logging.DEBUG, "info": logging.INFO,
        "warn": logging.WARNING, "error": logging.ERROR,
        "dpanic": logging.CRITICAL, "panic": logging.CRITICAL,
        "fatal": logging.CRITICAL,
    }

    def log_level(self) -> str:
        """Current serving level as its zap name (GET /log/level)."""
        eff = logging.getLogger("seqspark").getEffectiveLevel()
        for name in ("debug", "info", "warn", "error", "fatal"):
            if eff <= self._ZAP_LEVELS[name]:
                return name
        return "fatal"

    def set_log_level(self, level: str) -> str:
        """Atomically swap the package logger level (PUT /log/level).

        Raises ValueError on a name zap would reject, so the handler can
        400 instead of silently defaulting.
        """
        name = str(level).strip().lower()
        if name not in self._ZAP_LEVELS:
            raise ValueError(f"unrecognized level: {level!r}")
        logging.getLogger("seqspark").setLevel(self._ZAP_LEVELS[name])
        return self.log_level()

    def ready(self) -> bool:
        """Readiness = the store path is reachable (k8s /readiness probe)."""
        try:
            self.store.partitions()
            return True
        except Exception:
            return False

    def _try_mirror(self, path: str, body: bytes) -> None:
        """`--mirror-addr` load mirroring (`proxyapi/grpc_v1.go:335-355`):
        fire-and-forget re-send of the search request to a mirror proxy,
        capped at MIRROR_REQUEST_LIMIT in flight; mirror failures are
        logged, never surfaced to the caller."""
        if not self._mirror_url:
            return
        with self._metrics_lock:
            if self._mirror_inflight >= MIRROR_REQUEST_LIMIT:
                return
            self._mirror_inflight += 1

        def run():
            try:
                urllib.request.urlopen(
                    urllib.request.Request(
                        self._mirror_url.rstrip("/") + path, data=body
                    ),
                    timeout=30,
                ).read()
            except Exception as e:
                logger.error("failed to mirror request path=%s: %s", path, e)
            finally:
                with self._metrics_lock:
                    self._mirror_inflight -= 1

        threading.Thread(target=run, daemon=True).start()

    @contextmanager
    def _view(self, req: Optional[dict] = None):
        """The request's one store snapshot — admitted against
        `--search-fraction-limit` on its own bucket list when ``req`` is
        given — and its table, both held until the block ends."""
        with self.store.snapshot() as snap:
            if req is not None:
                snap.check_fraction_hits(req.get("from_ms"), req.get("to_ms"),
                                         self._max_fraction_hits)
            yield snap, self._table(snap)

    def _flag_partial(self, out: dict, snap: StoreSnapshot) -> dict:
        """Mark a response served from a partial snapshot (cold tier
        down): it carries what was reachable, flagged like the
        reference's proxy marking a store error
        (`grpc_complex_search.go:54`)."""
        if snap.partial:
            out["partial_response"] = True
            self._count("partial_responses_total")
        return out

    @staticmethod
    def _int_or(req: dict, key: str, default: int) -> int:
        """An explicit JSON ``null`` is the same as an absent field (the
        reference's Go decoding gives this for free: null decodes to the
        zero value). Without this, ``{"size": null}`` would reach the
        engine as ``size=None`` — its UNBOUNDED export mode — and collect
        the entire match set onto the driver."""
        v = req.get(key)
        return default if v is None else int(v)

    def export_docs(self, req: dict):
        """Export row iterator — (mid, rid, raw) tuples in stream order
        (`docs/en/10-public-api.md` /Export — Search's streaming twin).
        ``size`` absent/null drains the full match set; rows stream
        through ``toLocalIterator`` so the driver never holds the result
        set. Both transports build on this: the HTTP surface JSON-encodes
        each row, the gRPC surface protobuf-encodes — neither pays the
        other's serialization.

        The drain reads ONE snapshot, held until the iterator is
        exhausted or closed, so maintenance running meanwhile deletes no
        file it reads. The plan is built eagerly: request-shaped errors
        (seq-ql parse, size cap, bad dialect) raise here, and the
        transports turn them into a clean 400 / INVALID_ARGUMENT before
        any byte of the stream is sent."""
        size = req.get("size")

        def rows():
            with self._view(req) as (snap, st):
                if snap.partial:
                    # search degrades to partial results; an EXPORT is a
                    # completeness contract (backup/ETL) — a drain that
                    # would silently omit the entire cold history must
                    # fail loudly
                    raise RuntimeError(
                        "export requires the full store: cold tier "
                        "unreachable (search still serves partial results)"
                    )
                docs = st.search(
                    req.get("query", "*"),
                    size=None if size is None else int(size),
                    offset=self._int_or(req, "offset", 0),
                    order=req.get("order", "desc"),
                    from_ms=req.get("from_ms"),
                    to_ms=req.get("to_ms"),
                    dialect=req.get("dialect"),
                ).select("mid", "rid", "raw")
                yield  # planned: from here on close() releases the view
                for r in docs.toLocalIterator(prefetchPartitions=True):
                    yield r["mid"], r["rid"], r["raw"]

        it = rows()
        next(it)  # request-shaped errors raise here, before any row
        return it

    def export_lines(self, req: dict):
        """One JSON line per export doc (the HTTP NDJSON drain)."""
        rows = self.export_docs(req)

        def lines():
            try:
                for mid, rid, raw in rows:
                    # format from epoch millis (mid) so the label is truly
                    # UTC regardless of the Spark session / server timezone
                    t = _dt.datetime.fromtimestamp(
                        mid / 1000.0, tz=_dt.timezone.utc
                    )
                    yield json.dumps(
                        {
                            "doc": {
                                "id": f"{mid}-{rid}",
                                "data": raw,
                                "time": t.isoformat(
                                    timespec="milliseconds"
                                ).replace("+00:00", "Z"),
                            }
                        }
                    )
            finally:
                rows.close()

        return lines()

    def _apply_dialect(self, headers, req: dict) -> None:
        """Per-request dialect selection, the `use-seq-ql` metadata key of
        the reference (`storeapi/grpc_search.go:206-216`): header
        `use-seq-ql: false` routes the query through the legacy parser,
        `true` through seq-ql. A `dialect` field in the request body wins;
        an absent header falls back to the server default
        (`--use-seq-ql-by-default`; this library defaults to seq-ql, the
        CLI to the reference binary's legacy)."""
        if "dialect" not in req:
            # the grpc-gateway spelling (`Grpc-Metadata-use-seq-ql`, as in
            # the reference's quickstart curl) is an accepted alias
            hdr = headers.get("use-seq-ql")
            if hdr is None:
                hdr = headers.get("Grpc-Metadata-use-seq-ql")
            if hdr is not None:
                # Go strconv.ParseBool truth set; parse errors fall through
                # to false → legacy, exactly like the reference's ignored
                # error return
                req["dialect"] = (
                    "seqql"
                    if hdr.strip().lower() in ("1", "t", "true")
                    else "legacy"
                )
            else:
                req["dialect"] = self._default_dialect

    def _rate_check(self, path: str, req: dict) -> bool:
        """Key the request like the reference proxy: search/complex by
        (query, aggs, histogram interval) — identical repeated queries
        share one bucket (`proxyapi/grpc_v1.go:156-167`); fetch by its ID
        list (`proxyapi/grpc_fetch.go:27-34`)."""
        if self._limiter is None:
            return True
        if path == "/fetch":
            key = fetch_key(
                f"{m}-{r}" for m, r in req.get("ids", [])
            )
        else:
            key = search_key(
                req.get("query", "*"),
                aggs=req.get("aggs", []),
                hist_interval=req.get("hist_interval_ms"),
            )
        return self._limiter.account(key)

    def bulk(self, body: bytes, gzipped: bool) -> dict:
        res = parse_bulk_body(body, gzipped=gzipped)
        df = bulk_to_df(self.spark, res)
        if df is not None:
            self._append_grouped(df)
            # docs counted from the parsed bulk (driver-side, no Spark
            # job) — the ingest-rate series the reference's benchmark
            # dashboard tracks
            with self._metrics_lock:
                self._counters["bulk_docs_total"] += len(res.docs)
        return res.response()

    @property
    def default_dialect(self) -> str:
        """No-header query dialect (`--use-seq-ql-by-default`)."""
        return self._default_dialect

    # ---------------------------------------------- grpc-gateway routes

    def _gateway_rpc(self):
        """The UNSTARTED SeqProxyGrpc bound to this core: the gateway
        HTTP routes (`/search`, `/complex-search`, `/aggregate`,
        `/histogram`, `/mappings`, `/async-search`, `/export`) run
        through the SAME handlers as the real gRPC transport — one
        behavior, two renderings. It binds no socket (GrpcServer defers
        the listener to start(), which is never called here)."""
        return self._gw

    @staticmethod
    def _gw_metadata(headers) -> dict:
        md = {}
        for k, v in headers.items():
            kl = k.lower()
            if kl.startswith("grpc-metadata-"):
                md[kl[len("grpc-metadata-"):]] = v
            elif kl == "use-seq-ql":
                md[kl] = v
        return md

    #: gRPC status → HTTP status, the grpc-gateway mapping
    _GW_HTTP_STATUS = {3: 400, 5: 404, 8: 429, 2: 500, 13: 500}

    def _gw_call(self, path: str, req: dict, metadata: dict) -> dict:
        from . import gateway as gw
        from .wire import seqproxy as sp

        g = self._gateway_rpc()
        table = {
            "/search": (g.search, sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE),
            "/complex-search": (g.complex_search,
                                sp.COMPLEX_SEARCH_REQUEST,
                                sp.COMPLEX_SEARCH_RESPONSE),
            "/aggregate": (g.get_aggregation, sp.GET_AGGREGATION_REQUEST,
                           sp.GET_AGGREGATION_RESPONSE),
            "/histogram": (g.get_histogram, sp.GET_HISTOGRAM_REQUEST,
                           sp.GET_HISTOGRAM_RESPONSE),
            "/async-search": (g.start_async,
                              sp.START_ASYNC_SEARCH_REQUEST,
                              sp.START_ASYNC_SEARCH_RESPONSE),
        }
        fn, req_desc, resp_desc = table[path]
        out = fn(gw.json_to_proto(req_desc, req), metadata)
        return gw.proto_to_json(resp_desc, out)

    def _gw_count_error(self, code: int) -> None:
        """Metric parity between the gateway routes and the native flat
        routes for errors surfacing from the shared gRPC handlers:

        - RESOURCE_EXHAUSTED (8): admission — the handler already
          counted ``rate_limited_total`` (or it's a capacity 429, which
          the native path doesn't count either); nothing more.
        - INVALID_ARGUMENT (3): validation raised BEFORE the handler's
          ``_admit`` counted ``search_total`` — count the same
          total+error pair the native 400 path produces, so
          errors/total ratios stay comparable across routes.
        - NOT_FOUND (5): async-id lookup; the native ``/async/fetch``
          404 counts nothing.
        - anything else: post-admission failure — ``search_total`` was
          already counted, add the error only."""
        if code in (8, 5):
            return
        if code == 3:
            self._count("search_total")
        self._count("search_errors_total")

    @property
    def mapping(self):
        """The CURRENT mapping — live when backed by a MappingProvider
        (`--enable-mapping-updates`), pinned otherwise. Every request path
        resolves through here at call time, so a reload applies to the
        next search/bulk without a restart."""
        if self._mapping_provider is not None:
            return self._mapping_provider.get()
        return self._mapping

    def _on_mapping_update(self) -> None:
        # drop the memoized ingest projection; the next bulk rebuilds it
        # from the swapped mapping (assignment is atomic under the GIL —
        # a bulk mid-flight keeps the transform it already grabbed, the
        # same read-your-epoch semantics as the reference's RWMutex get)
        self._ingest_transform = None

    def _transform(self):
        # the ingest projection is built once per mapping epoch (the
        # Column tree is frame-independent); rebuilding it per bulk cost
        # ~0.3 s of driver py4j per request on the hot ingest path. The
        # cache carries the Mapping it was built FROM, and a hit requires
        # identity with the CURRENT mapping — a reload firing mid-build
        # can therefore never pin a stale transform: the next bulk sees
        # the cached mapping is no longer current and rebuilds
        m = self.mapping
        cached = self._ingest_transform
        if cached is None or cached[0] is not m:
            cached = (
                m,
                make_ingest_transform(
                    m,
                    case_sensitive=self._case_sensitive,
                    allowed_drift_ms=self._drift,
                    future_drift_ms=self._future,
                ),
            )
            self._ingest_transform = cached
        return cached[1]

    def _append_grouped(self, df) -> None:
        """Group-commit append: appends are serialized (one partitioned
        parquet write at a time), and every bulk that arrives WHILE a
        write's Spark job is running is queued and flushed together in the
        next write — concurrent-shipper throughput scales with rows per
        flush instead of paying the ~0.5 s fixed per-job write cost per
        bulk. The Spark analog of the reference's in-memory active
        fraction absorbing many bulks per seal (`frac/active.go`). A bulk
        returns only after ITS rows are durable; a failed flush fails
        every bulk in that group (none were stored).

        The flushing thread ("captain") hands captaincy to a queued waiter
        once its own batch is flushed, so under sustained load no client's
        response is delayed past its own flush + one predecessor."""
        entry = [df, threading.Event(), None, False]  # frame, done, err, captain
        with self._gc_lock:
            self._gc_pending.append(entry)
            captain = not self._gc_flushing
            if captain:
                self._gc_flushing = True
        if not captain:
            entry[1].wait()
            if not entry[3]:
                if entry[2] is not None:
                    raise entry[2]
                return
            # promoted: the previous captain flushed its own batch and
            # handed off with the queue (including this entry) non-empty
        self._gc_flush_as_captain(entry)

    def _gc_flush_as_captain(self, entry) -> None:
        my_exc: Optional[Exception] = None
        batch: list = []
        try:
            while True:
                with self._gc_lock:
                    batch = self._gc_pending
                    self._gc_pending = []
                    if not batch:
                        self._gc_flushing = False
                        break
                exc: Optional[Exception] = None
                try:
                    out = batch[0][0]
                    for e in batch[1:]:
                        out = out.unionByName(e[0])
                    with self._lock:
                        self.store.append(self._transform()(out))
                    # flush count + group size expose the group-commit
                    # amortization (flushes_total << bulk_total under load)
                    with self._metrics_lock:
                        self._counters["bulk_flushes_total"] += 1
                        self._counters["bulk_flushed_bulks_total"] += len(batch)
                except Exception as err:  # noqa: BLE001 - delivered per waiter
                    exc = err
                mine = any(e is entry for e in batch)
                for e in batch:
                    e[2] = exc
                    if e is not entry:
                        e[1].set()
                if mine:
                    my_exc = exc
                    # own rows are durable (or failed) — hand captaincy to
                    # a queued waiter instead of serving the whole burst
                    with self._gc_lock:
                        if not self._gc_pending:
                            self._gc_flushing = False
                            break
                        successor = self._gc_pending[0]
                        successor[3] = True
                        successor[1].set()
                    break
        except BaseException:
            # never leave _gc_flushing stuck True (a wedged flag would
            # park every future bulk forever): fail the in-flight batch
            # (already drained from pending — a BaseException mid-append
            # skipped its delivery loop) plus whatever is queued, and
            # clear the flag so ingest recovers on the next bulk
            with self._gc_lock:
                leftover = self._gc_pending
                self._gc_pending = []
                self._gc_flushing = False
            err = RuntimeError("bulk flush aborted")
            for e in [*batch, *leftover]:
                if e is not entry and not e[1].is_set():
                    e[2] = err
                    e[1].set()
            raise
        if my_exc is not None:
            raise my_exc

    def _table(self, snap: Optional[StoreSnapshot] = None) -> SearchTable:
        """The serving SearchTable for ``snap`` (default: a snapshot taken
        now), memoized on (snapshot key, index version, mapping
        identity). Building one costs ~100+ ms of file listing + py4j,
        and a per-request rebuild would also keep the engine's
        prepared-plan cache from ever engaging (a fresh instance each
        time). The snapshot key is the store's manifest version(s), so
        any committed append, compaction, retention or rotation — from
        this process or another — moves it, and a bulk acked before this
        request is ALWAYS visible; it also carries cold-tier
        reachability, and a live mapping reload is a new object.

        An attached index is AUTHORITATIVE (the semi-join drops docs it
        doesn't list), so it routes only while its newest version was
        built from exactly the snapshot's files in every bucket: an
        append from any process disarms it until :meth:`refresh_index`.
        The routed index version is held with ``snap``. Request-local
        state stays request-local: ``partial`` comes from the request's
        snapshot, the route from the request's own complex_search
        result."""
        if snap is None:
            with self.store.snapshot() as snap:
                return self._table(snap)
        index = None
        if self._store_index is not None:
            im, release = self._store_index.pin()
            if im.built_from == snap.files:
                snap.pins.append(release)  # released with the snapshot
                index = im
            else:
                release()
        key = (snap.key, index and index.version)
        m = self.mapping
        cached = self._st_memo
        if cached is not None and cached[0] == key and cached[1] is m:
            return cached[2]
        st = SearchTable.from_store(
            snap, m, case_sensitive=self._case_sensitive
        )
        if index is not None:
            st = self._store_index.attach_to(
                st,
                two_phase_min_doc_bytes=self._two_phase_min_doc_bytes,
                manifest=index,
            )
        self._st_memo = (key, m, st)
        return st

    def refresh_index(self) -> bool:
        """Rebuild the attached StoreIndex's stale buckets (only buckets
        whose store files changed since their last build, r16 — the
        maintenance cadence costs O(appended buckets), not a full-index
        rebuild per pass). Returns True when the index then covers the
        store, i.e. routing is armed; an append landing during the
        rebuild leaves it disarmed until the next call."""
        if self._store_index is None:
            return False
        self._store_index.refresh_stale()
        return not self._store_index.stale_buckets()

    def search(self, req: dict) -> dict:
        """Docs, plus the total when asked for: the docs and total
        branches of one plan-cached :meth:`SearchTable.complex_search`."""
        with self._view(req) as (snap, st):
            size = self._int_or(req, "size", 100)
            with_total = bool(req.get("with_total"))
            if not (size or with_total):
                # nothing to compute; a bad query is a 400
                st.parse(req.get("query", "*"), req.get("dialect"))
                return self._flag_partial({"docs": []}, snap)
            res = self._complex_search(st, req, size=size,
                                       with_total=with_total)
            out = {"docs": self._docs_of(res)}
            if with_total:
                out["total"] = res.total_count
            if req.get("explain"):
                out["explain"] = self._explain_of(st, req, res.route)
            return self._flag_partial(out, snap)

    def _complex_search(self, st: SearchTable, req: dict, **kw):
        """The request's :meth:`SearchTable.complex_search` over its
        query, time window, page offset and order, plus ``kw``."""
        return st.complex_search(
            req.get("query", "*"),
            from_ms=req.get("from_ms"),
            to_ms=req.get("to_ms"),
            offset=self._int_or(req, "offset", 0),
            order=req.get("order", "desc"),
            dialect=req.get("dialect"),
            columns=_DOC_COLUMNS,
            **kw,
        )

    def _docs_of(self, res) -> list:
        """The wire docs of a complex_search result's collected rows
        (``[]`` when it has none), counting a request whose docs the
        two-phase route served."""
        if res.route == "two_phase":
            self._count("two_phase_searches_total")
        return [{"mid": r["mid"], "rid": r["rid"], "data": r["raw"]}
                for r in res.docs or ()]

    @staticmethod
    def _explain_of(st: SearchTable, req: dict, route: Optional[str]):
        """Per-request explain (`proxyapi/grpc_v1.go:228`,
        `grpc_complex_search.go:34-60` attach an explain tree) on the
        request's own table: the parsed AST + Spark's logical→physical
        trace of the scan-path plan, prefixed with ``route``, the plan
        that served this request's docs (none without docs).
        ``"explain": "tree"`` (the gRPC surface) asks for the structured
        span tree of :meth:`SearchTable.explain_tree` instead."""
        args = dict(from_ms=req.get("from_ms"), to_ms=req.get("to_ms"),
                    dialect=req.get("dialect"))
        if req["explain"] == "tree":
            return st.explain_tree(req.get("query", "*"), **args)
        prefix = f"Route: {route}\n" if route else ""
        return prefix + st.explain(req.get("query", "*"), **args)

    def complex(self, req: dict) -> dict:
        """ComplexSearch over HTTP (`proxyapi/grpc_complex_search.go:14-60`):
        ``{"query", "from_ms", "to_ms", "size", "with_total",
        "hist_interval_ms", "aggs": [{"func", "field", "group_by",
        "quantiles", "interval_ms"}]}`` → docs + total + histogram +
        agg buckets: the docs top-k plus one fused aggregate job, both
        from the table's plan cache (:meth:`SearchTable.complex_search`)."""
        from .engine import AggQuery

        with self._view(req) as (snap, st):
            aggs = [
                AggQuery(
                    func=a["func"],
                    field=a.get("field"),
                    group_by=a.get("group_by"),
                    quantiles=a.get("quantiles", ()),
                    interval_ms=a.get("interval_ms"),
                )
                for a in req.get("aggs", [])
            ]
            res = self._complex_search(
                st, req,
                size=self._int_or(req, "size", 0),
                with_total=req.get("with_total", False),
                hist_interval_ms=req.get("hist_interval_ms"),
                aggs=aggs,
            )
            out: dict = {}
            if res.docs is not None:
                out["docs"] = self._docs_of(res)
            if res.total_count is not None:
                out["total"] = res.total_count
            if res.histogram_rows is not None:
                out["histogram"] = {str(b): c for b, c in res.histogram_rows}
            out["aggs"] = [
                [
                    {k: (None if v != v else v) if isinstance(v, float) else v
                     for k, v in bucket.items()}
                    for bucket in buckets
                ]
                for buckets in res.agg_buckets
            ]
            if req.get("explain"):
                out["explain"] = self._explain_of(st, req, res.route)
            return self._flag_partial(out, snap)

    def fetch(self, req: dict) -> dict:
        """Fetch-by-ID (`proxyapi/grpc_fetch.go:21`): ``{"ids": [[mid, rid],
        ...]}`` → docs in store order. An optional ``fields`` list with
        ``except`` flag filters each doc's top-level JSON fields — the
        FieldsFilter of `storeapi/grpc_fetch.go:170-216` (allow-list by
        default, block-list with ``"except": true``)."""
        from .seqql.ast import PipeFields

        with self._view() as (snap, st):
            ids = req.get("ids", [])
            spark = self.spark
            ids_df = spark.createDataFrame(
                [(int(m), int(r)) for m, r in ids], "mid long, rid long"
            )
            docs = st.fetch(ids_df, ["mid", "rid"]).select("mid", "rid", "raw")
            if req.get("fields"):
                docs = st.apply_pipes(
                    docs,
                    [PipeFields(list(req["fields"]), bool(req.get("except")))],
                )
            out = {
                "docs": [
                    {"mid": r["mid"], "rid": r["rid"], "data": r["raw"]}
                    for r in docs.collect()
                ]
            }
            # a fetched id whose doc lives in the dark cold tier is missing
            # from the result — mark it, like search
            return self._flag_partial(out, snap)

    def status(self) -> dict:
        """Doc count + time bounds of the request's snapshot (an empty
        store reads as an empty frame: ``docs: 0``)."""
        with self._view() as (snap, st):
            return self._flag_partial(st.status(), snap)

    # --------------------------------------------------------- async search

    def _async_factory(self, req_json: str):
        """Zero-arg factory rebuilding the complex-search result from the
        PERSISTED request — the same callable shape resume_pending uses, so
        a job that died mid-run re-executes identically after restart
        (`fracmanager/async_searcher.go:77-82`). The response dict is
        stored as a 1-row parquet (complex responses are guard/size-capped,
        so the blob is bounded — the reference likewise persists the
        serialized QPR)."""

        def factory():
            resp = self.complex(json.loads(req_json))
            return self.spark.createDataFrame(
                [(json.dumps(resp),)], "response string"
            )

        return factory

    def async_start(self, req: dict) -> dict:
        """`POST /async/start` — body is a /complex request plus optional
        ``ttl_sec``; returns ``{"search_id"}`` immediately while the job
        runs in the background (`grpc_async_search.go:15-43`)."""
        ttl = int(req.pop("ttl_sec", 3600))
        req_json = json.dumps(req)
        job_id = self._async.start(
            req_json, self._async_factory(req_json), ttl_sec=ttl
        )
        return {"search_id": job_id}

    def async_fetch(self, req: dict) -> dict:
        """`POST /async/fetch` — ``{"search_id", "size", "offset",
        "with_docs"}``: pages WITHIN the persisted result like
        `grpc_async_search.go:45-68` FetchAsyncSearchResult; ``done`` +
        expiration always present, the response payload once done."""
        self._async.expire()
        job_id = req.get("search_id") or ""
        meta = self._async.status(job_id)
        if meta is None:
            raise KeyError(f"unknown search_id {job_id!r}")
        out = {
            "search_id": job_id,
            "done": meta["status"] == "done",
            "status": meta["status"],
            "expiration_ms": int(
                (meta["started_at"] + meta.get("ttl_sec", 3600)) * 1000
            ),
        }
        if meta["status"] == "error":
            out["error"] = meta.get("error")
        if meta["status"] == "done":
            row = self._async.fetch(job_id).collect()[0]
            resp = json.loads(row["response"])
            docs = resp.get("docs", [])
            if req.get("with_docs", True):
                offset = int(req.get("offset", 0))
                size = int(req.get("size", len(docs)))
                resp["docs"] = docs[offset : offset + size]
            else:
                resp["docs"] = []
            out["response"] = resp
        return out

    def async_list(self) -> dict:
        """`GET /async/list` — all persisted jobs (expired ones dropped
        first, the retention loop analog)."""
        self._async.expire()
        return {"searches": self._async.jobs()}

    def resume_async(self) -> list:
        """Re-execute async jobs that were running when the process died —
        call after constructing the server on restart."""
        return self._async.resume_pending(
            lambda req_json: self._async_factory(req_json)()
        )

    # ------------------------------------------------------------ lifecycle

    def start(self) -> "SeqSparkServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(5)
        if self._mapping_provider is not None:
            self._mapping_provider.stop()
