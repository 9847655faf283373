"""Burn-in: sustained mixed workload against one engine, both transports.

Shippers bulk over HTTP, searchers query over HTTP and gRPC, an export
drains, async searches start/fetch, and a maintenance thread compacts and
rotates — all concurrently for ``--seconds``. Asserts zero unexpected
errors and exact end-state consistency (every acked doc searchable,
minus rotated buckets). Prints one JSON line.

Usage:
    python tools/soak.py [--seconds 60] [--shippers 3] [--searchers 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import threading
import time
import urllib.error
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import spark_session
from seqspark import MappingProvider
from seqspark.grpcapi import SeqProxyGrpc
from seqspark.server import SeqSparkServer
from seqspark.store import DocStore
from seqspark.wire import seqproxy as sp
from seqspark.wire.grpc import GrpcChannel, GrpcError

BIG = 10**15
WIN = {"from": sp.ms_to_ts(0), "to": sp.ms_to_ts(4102444800000)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=int, default=60)
    ap.add_argument("--shippers", type=int, default=3)
    ap.add_argument("--searchers", type=int, default=3)
    ap.add_argument("--index", action="store_true",
                    help="attach a StoreIndex (r16): soaks the append-"
                         "freshness guard, concurrent refresh_index vs "
                         "compaction, and width-routed two-phase serves")
    args = ap.parse_args()

    spark = spark_session()
    tmp = tempfile.mkdtemp(prefix="soak_")
    store = DocStore(spark, os.path.join(tmp, "store"))
    # live mapping reload under load: the provider swaps between a base
    # and a widened mapping while bulks/searches run (the reference's
    # --enable-mapping-updates path, exercised concurrently)
    BASE_YAML = 'mapping-list:\n  - {name: service, type: keyword}\n  - {name: message, type: text}\n'
    WIDE_YAML = BASE_YAML + '  - {name: extra, type: keyword}\n'
    mapping_file = os.path.join(tmp, "mappings.yaml")
    with open(mapping_file, "w") as f:
        f.write(BASE_YAML)
    provider = MappingProvider(mapping_file, update_period_s=3600)
    sidx = None
    if args.index:
        from pyspark.sql import functions as F

        from seqspark.index import StoreIndex

        sidx = StoreIndex(
            store, os.path.join(tmp, "index"),
            {"message": F.col("tokens")["message"],
             "service": F.col("tokens")["service"]},
        )
    core = SeqSparkServer(
        spark, store, provider,
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        async_dir=os.path.join(tmp, "async"),
        index=sidx, two_phase_min_doc_bytes=1,
    ).start()
    grpc = SeqProxyGrpc(core).start()
    # a second gRPC listener over TLS (r11): same handlers, stdlib-ssl +
    # ALPN + the _SerializedTLSSocket shim, soaked concurrently with the
    # cleartext transports. Skipped silently if openssl is unavailable.
    grpc_tls = tls_ca = None
    import shutil as _sh
    import subprocess as _sp
    if _sh.which("openssl"):
        cert = os.path.join(tmp, "cert.pem")
        key = os.path.join(tmp, "key.pem")
        _sp.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
             "-keyout", key, "-out", cert, "-days", "2",
             "-subj", "/CN=localhost",
             "-addext", "subjectAltName=DNS:localhost,IP:127.0.0.1"],
            check=True, capture_output=True,
        )
        grpc_tls = SeqProxyGrpc(core, tls_cert=cert, tls_key=key).start()
        tls_ca = cert

    stop = threading.Event()
    errors: list = []
    counts = {"bulk": 0, "docs": 0, "search_http": 0, "search_grpc": 0,
              "search_grpc_tls": 0, "search_storeapi": 0,
              "search_gateway": 0, "export_gateway": 0,
              "export": 0, "async": 0, "compact": 0, "mapping_flips": 0,
              "index_refresh": 0, "search_routed": 0,
              "storeapi_reconnects": 0}
    lock = threading.Lock()

    def bump(k, v=1):
        with lock:
            counts[k] += v

    def record_err(tag, e):
        errors.append((tag, repr(e)))

    def http(path, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{core.port}{path}", data=body
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return json.loads(r.read())

    def http_raw(path, body):
        req = urllib.request.Request(
            f"http://127.0.0.1:{core.port}{path}", data=body
        )
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.read().decode()

    def shipper(tid):
        k = 0
        while not stop.is_set():
            lines = []
            for d in range(20):
                lines.append('{"index": {}}')
                lines.append(json.dumps({
                    # 6 hour-buckets so rotation/compaction have targets
                    "timestamp": f"2024-01-01 {10 + (k % 6):02d}:00:"
                                 f"{(tid * 7 + d) % 60:02d}.000",
                    "service": f"svc{tid}",
                    "message": f"msg {tid} {k} {d}",
                }))
            try:
                resp = http("/_bulk", "\n".join(lines).encode())
                if resp.get("errors"):
                    record_err("bulk-items", resp)
                bump("bulk")
                bump("docs", 20)
            except Exception as e:  # noqa: BLE001
                record_err("bulk", e)
            k += 1

    def searcher_http(tid):
        while not stop.is_set():
            try:
                http("/search", json.dumps(
                    {"query": f"service:svc{tid % 3}", "with_total": True}
                ).encode())
                bump("search_http")
            except urllib.error.HTTPError as e:
                record_err("search_http", e.read().decode()[:400])
            except Exception as e:  # noqa: BLE001
                record_err("search_http", e)

    def searcher_grpc():
        ch = GrpcChannel("127.0.0.1", grpc.port)
        try:
            while not stop.is_set():
                try:
                    ch.unary(
                        "/seqproxyapi.v1.SeqProxyApi/Search",
                        {"query": {"query": "message:msg", **WIN}, "size": 5,
                         "with_total": True},
                        sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE,
                    )
                    bump("search_grpc")
                except GrpcError as e:
                    record_err("search_grpc", e)
        finally:
            ch.close()

    def store_api_user():
        # r13: the INTERNAL StoreApi transport under the same pressure —
        # bulks over gRPC framing interleaved with store-shaped searches
        # (id_sources + aggs), sharing the engine with every other worker
        from seqspark.storegrpc import StoreGrpc
        from seqspark.wire import storeapi as sa

        srv = StoreGrpc(core).start()
        ch = GrpcChannel("127.0.0.1", srv.port)
        k = 0
        try:
            while not stop.is_set():
                try:
                    if ch.closed:
                        # one transport flake must not fail every later
                        # op: the op that met it counted as an error
                        ch.close()
                        ch = GrpcChannel("127.0.0.1", srv.port)
                        bump("storeapi_reconnects")
                    docs = [json.dumps({
                        "timestamp": f"2024-01-01 {10 + (k % 6):02d}"
                                     f":00:{(k * 13) % 60:02d}.000",
                        "service": "svcg",
                        "message": f"grpcbulk {k} {d}",
                    }) for d in range(20)]
                    ch.unary(f"{sa.SERVICE}/Bulk",
                             {"count": 20, "docs": "\n".join(docs).encode()},
                             sa.BULK_REQUEST, sa.EMPTY)
                    bump("bulk")
                    bump("docs", 20)
                    ch.unary(
                        f"{sa.SERVICE}/Search",
                        {"query": "service:svcg", "from": 0,
                         "to": 4102444800000, "size": 5, "with_total": True,
                         "aggs": [{"field": "service", "group_by": "service",
                                   "func": 0}]},
                        sa.SEARCH_REQUEST, sa.SEARCH_RESPONSE)
                    bump("search_storeapi")
                except Exception as e:  # noqa: BLE001
                    record_err("storeapi", e)
                k += 1
        finally:
            ch.close()
            srv.stop()

    def searcher_grpc_tls():
        if grpc_tls is None:
            return
        ch = GrpcChannel("127.0.0.1", grpc_tls.port, tls_ca=tls_ca,
                         server_hostname="localhost")
        try:
            while not stop.is_set():
                try:
                    ch.unary(
                        "/seqproxyapi.v1.SeqProxyApi/Search",
                        {"query": {"query": "message:msg", **WIN}, "size": 5,
                         "with_total": True},
                        sp.SEARCH_REQUEST, sp.SEARCH_RESPONSE,
                    )
                    bump("search_grpc_tls")
                except GrpcError as e:
                    record_err("search_grpc_tls", e)
        finally:
            ch.close()

    def searcher_gateway():
        # the grpc-gateway HTTP rendering (nested query, RFC3339 window)
        # served through the shared gRPC handlers; every few searches,
        # drain a gateway-framed /export stream too
        gwin = {"from": "2020-01-01T00:00:00Z", "to": "2100-01-01T00:00:00Z"}
        k = 0
        while not stop.is_set():
            try:
                http("/search", json.dumps(
                    {"query": {"query": "message:msg", **gwin},
                     "size": 5, "withTotal": True}).encode())
                bump("search_gateway")
                if k % 5 == 0:
                    body = http_raw("/export", json.dumps(
                        {"query": {"query": "*", **gwin},
                         "size": 200}).encode())
                    for line in body.splitlines():
                        frame = json.loads(line)
                        if "result" not in frame:
                            record_err("export_gateway-frame", frame)
                            break
                    bump("export_gateway")
            except urllib.error.HTTPError as e:
                record_err("search_gateway", e.read().decode()[:400])
            except Exception as e:  # noqa: BLE001
                record_err("search_gateway", e)
            k += 1

    def exporter():
        while not stop.is_set():
            try:
                list(core.export_docs({"query": "*", "size": 500}))
                bump("export")
            except Exception as e:  # noqa: BLE001
                record_err("export", e)
            stop.wait(2.0)

    def async_user():
        while not stop.is_set():
            try:
                out = core.async_start({"query": "*", "size": 10,
                                        "with_total": True})
                core._async.wait(out["search_id"], timeout=120)
                res = core.async_fetch({"search_id": out["search_id"]})
                if res.get("status") not in ("done", "canceled"):
                    record_err("async-status", res)
                bump("async")
            except Exception as e:  # noqa: BLE001
                record_err("async", e)
            stop.wait(3.0)

    def mapping_flipper():
        wide = False
        while not stop.is_set():
            try:
                wide = not wide
                with open(mapping_file, "w") as f:
                    f.write(WIDE_YAML if wide else BASE_YAML)
                if provider.reload():
                    bump("mapping_flips")
            except Exception as e:  # noqa: BLE001
                record_err("mapping_flip", e)
            stop.wait(1.5)

    def indexer():
        # the seal-time cadence under load: re-arm index routing
        # whenever the store changed; races hunted here — refresh's
        # held snapshot vs compaction commits vs per-request index pins
        while not stop.is_set():
            try:
                if sidx.stale_buckets():
                    core.refresh_index()
                    bump("index_refresh")
            except Exception as e:  # noqa: BLE001
                record_err("index_refresh", e)
            stop.wait(2.0)

    def searcher_routed(tid):
        # rare-token conjunct (<=0.1 df ratio) on covered fields: the
        # width/selectivity router serves this TWO-PHASE whenever the
        # index is armed, and via the scan while a bulk has it disarmed
        # — results must be right either way (end-state check)
        k = 0
        while not stop.is_set():
            try:
                http("/search", json.dumps(
                    {"query": f"service:svc{tid % 3} and "
                              f"message:{k % 20}", "size": 20}
                ).encode())
                bump("search_routed")
                k += 1
            except urllib.error.HTTPError as e:
                record_err("search_routed", e.read().decode()[:400])
            except Exception as e:  # noqa: BLE001
                record_err("search_routed", e)

    def maintainer():
        while not stop.is_set():
            try:
                done = store.maintain(max_files_per_partition=4)
                bump("compact", len(done))
            except Exception as e:  # noqa: BLE001
                record_err("maintain", e)
            stop.wait(1.0)

    threads = (
        [threading.Thread(target=shipper, args=(t,))
         for t in range(args.shippers)]
        + [threading.Thread(target=searcher_http, args=(t,))
           for t in range(args.searchers)]
        + [threading.Thread(target=searcher_grpc),
           threading.Thread(target=store_api_user),
           threading.Thread(target=searcher_grpc_tls),
           threading.Thread(target=searcher_gateway),
           threading.Thread(target=exporter),
           threading.Thread(target=async_user),
           threading.Thread(target=maintainer),
           threading.Thread(target=mapping_flipper)]
        + ([threading.Thread(target=indexer),
            threading.Thread(target=searcher_routed, args=(0,))]
           if args.index else [])
    )
    t0 = time.time()
    for t in threads:
        t.start()
    time.sleep(args.seconds)
    stop.set()
    for t in threads:
        t.join(timeout=180)
    wall = time.time() - t0

    # end-state consistency: every acked doc searchable
    final = http("/search", b'{"query": "*", "with_total": true}')
    consistent = final["total"] == counts["docs"]
    grpc.stop()
    if grpc_tls is not None:
        grpc_tls.stop()
    core.stop()
    print(json.dumps({
        "metric": "seqspark_soak",
        "seconds": round(wall, 1),
        "counts": counts,
        "errors": len(errors),
        "error_sample": errors[:5],
        "final_total": final["total"],
        "acked_docs": counts["docs"],
        "consistent": consistent,
        # how many searches the two-phase plan actually served (0
        # without --index; with it, > 0 proves the armed windows routed)
        "routed_served": core._counters["two_phase_searches_total"],
    }))


if __name__ == "__main__":
    main()
