"""StoreApi gRPC transport throughput (r14, verdict #6): the reference's
hot INTERNAL proxy→store path (`proxy/search/ingestor.go:595-607` ships
bulks to stores over `api/storeapi/store_api.proto`) measured here as
docs/s and search latency over the stdlib h2/proto3 stack, side by side
with the ES-bulk HTTP path on an identical store. perfbench drives the
EXTERNAL seqproxy surface; `seqspark/storegrpc.py` is on its "Not
measured" list, and this bench covers it.

Both transports drive the SAME core (`SeqSparkServer.bulk` group-commit
append + engine search), so the delta is pure transport: HTTP/1.1 JSON
framing + ES action lines vs h2 + proto3 frames (one HPACK'd stream per
bulk, no action lines — the StoreApi Bulk carries raw NDJSON doc lines).

Usage:
    python tools/bench_storeapi.py [--docs 20000] [--shippers 4]
        [--bulk-size 2000] [--searches 30]

Prints one JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import SF_DIR, spark_session
from seqspark import Mapping
from seqspark.data import load_table
from seqspark.server import SeqSparkServer
from seqspark.store import DocStore
from seqspark.storegrpc import StoreGrpc
from seqspark.wire import storeapi as sa
from seqspark.wire.grpc import GrpcChannel

MAPPING = Mapping(
    {
        "event_id": "keyword",
        "event_type": "keyword",
        "user_id": "keyword",
        "value": "keyword",
        "props": "text",
    }
)
BIG = 10**15
WIN = {"from": 0, "to": 4102444800000}


def raw_docs_df(spark):
    """The sf events rendered to raw JSON docs, timestamps in a format
    ``ingest_docs`` parses."""
    return load_table(spark, SF_DIR, "events").select(
        F.to_json(
            F.struct(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias("timestamp"),
                F.col("event_id").cast("string").alias("event_id"),
                F.col("event_type"),
                F.col("user_id").cast("string").alias("user_id"),
                F.col("value").cast("string").alias("value"),
                F.col("props"),
            )
        ).alias("raw")
    )


def _core(spark, tmp):
    store = DocStore(spark, os.path.join(tmp, "store"))
    return store, SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        async_dir=os.path.join(tmp, "async"),
    )


def _chunks(docs, bulk_size):
    return [docs[i:i + bulk_size] for i in range(0, len(docs), bulk_size)]


def bench_grpc_bulk(spark, docs, shippers, bulk_size):
    tmp = tempfile.mkdtemp(prefix="storeapi_grpc_")
    store, core = _core(spark, tmp)
    srv = StoreGrpc(core).start()
    bulks = [
        {"count": len(c), "docs": "\n".join(c).encode()}
        for c in _chunks(docs, bulk_size)
    ]
    errors = []
    lock = threading.Lock()
    queue = list(bulks)

    def ship():
        ch = GrpcChannel("127.0.0.1", srv.port)
        try:
            while True:
                with lock:
                    if not queue:
                        return
                    req = queue.pop()
                try:
                    ch.unary(f"{sa.SERVICE}/Bulk", req,
                             sa.BULK_REQUEST, sa.EMPTY)
                except Exception as e:  # noqa: BLE001 - recorded
                    errors.append(str(e))
        finally:
            ch.close()

    t0 = time.perf_counter()
    threads = [threading.Thread(target=ship) for _ in range(shippers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    stored = store.read().count()
    res = {
        "docs": len(docs),
        "stored": stored,
        "sec": round(elapsed, 3),
        "docs_per_sec": round(len(docs) / elapsed, 1),
        "bulks": len(bulks),
        "shippers": shippers,
        "errors": len(errors),
    }
    return res, (srv, core, tmp)


def bench_http_bulk(spark, docs, shippers, bulk_size):
    tmp = tempfile.mkdtemp(prefix="storeapi_http_")
    store, core = _core(spark, tmp)
    core.start()
    bulks = []
    for c in _chunks(docs, bulk_size):
        lines = []
        for d in c:
            lines.append('{"index": {}}')
            lines.append(d)
        bulks.append("\n".join(lines).encode())
    url = f"http://127.0.0.1:{core.port}/_bulk"
    errors = []
    lock = threading.Lock()
    queue = list(bulks)

    def ship():
        while True:
            with lock:
                if not queue:
                    return
                body = queue.pop()
            try:
                with urllib.request.urlopen(
                    urllib.request.Request(url, data=body), timeout=600
                ) as r:
                    resp = json.loads(r.read())
                if resp.get("errors"):
                    errors.append("item errors")
            except Exception as e:  # noqa: BLE001 - recorded
                errors.append(str(e))

    t0 = time.perf_counter()
    threads = [threading.Thread(target=ship) for _ in range(shippers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t0
    stored = store.read().count()
    res = {
        "docs": len(docs),
        "stored": stored,
        "sec": round(elapsed, 3),
        "docs_per_sec": round(len(docs) / elapsed, 1),
        "bulks": len(bulks),
        "shippers": shippers,
        "errors": len(errors),
    }
    return res, (core, tmp)


def _lat(fn, n):
    xs = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        xs.append((time.perf_counter() - t0) * 1000)
    xs.sort()
    return {
        "p50_ms": round(statistics.median(xs), 2),
        "p90_ms": round(xs[min(len(xs) - 1, int(len(xs) * 0.9))], 2),
        "n": n,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=20_000)
    ap.add_argument("--shippers", type=int, default=4)
    ap.add_argument("--bulk-size", type=int, default=2_000)
    ap.add_argument("--searches", type=int, default=30)
    args = ap.parse_args()

    spark = spark_session()

    docs = [r["raw"] for r in raw_docs_df(spark).limit(args.docs).collect()]

    # throwaway warm-up ingest into a scratch store: JVM + ingest-path
    # warmup otherwise bills ~2x onto whichever transport runs first
    wtmp = tempfile.mkdtemp(prefix="storeapi_warm_")
    wstore, wcore = _core(spark, wtmp)
    wlines = []
    for d in docs[:2000]:
        wlines.append('{"index": {}}')
        wlines.append(d)
    wcore.bulk("\n".join(wlines).encode(), gzipped=False)
    wstore.read().count()
    shutil.rmtree(wtmp, ignore_errors=True)

    grpc_bulk, (srv, core_g, tmp_g) = bench_grpc_bulk(
        spark, docs, args.shippers, args.bulk_size)
    http_bulk, (core_h, tmp_h) = bench_http_bulk(
        spark, docs, args.shippers, args.bulk_size)

    # search latency over both transports against their freshly-ingested
    # (identical-content) stores: a selective keyword query and an agg
    ch = GrpcChannel("127.0.0.1", srv.port)
    q = {"query": "event_type:click", **WIN, "size": 100}

    def grpc_search():
        ch.unary(f"{sa.SERVICE}/Search", q, sa.SEARCH_REQUEST,
                 sa.SEARCH_RESPONSE)

    url = f"http://127.0.0.1:{core_h.port}/search"
    body = json.dumps({
        "query": "event_type:click", "from_ms": WIN["from"],
        "to_ms": WIN["to"], "size": 100,
    }).encode()

    def http_search():
        with urllib.request.urlopen(
            urllib.request.Request(url, data=body), timeout=600
        ) as r:
            r.read()

    grpc_search()  # warm both paths once before timing
    http_search()
    out = {
        "metric": "seqspark_storeapi_transport",
        "sf_dir": SF_DIR,
        "grpc_bulk": grpc_bulk,
        "http_bulk": http_bulk,
        "grpc_search": _lat(grpc_search, args.searches),
        "http_search": _lat(http_search, args.searches),
    }
    ch.close()
    srv.stop()
    core_h.stop()
    shutil.rmtree(tmp_g, ignore_errors=True)
    shutil.rmtree(tmp_h, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
