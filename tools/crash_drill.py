"""Process-level crash drill: SIGKILL the engine mid-bulk / mid-compaction /
mid-async-search, restart on the same store, and prove zero acked-doc loss.

The reference replays its WAL on restart (`docs/en/internal/fractions.md`
"Replaying"); this engine's equivalents under a hard kill are:

- **bulk durability**: an ACKED bulk is committed — its files are
  listed by a manifest version (``_manifest/<version>.json``, written
  create-if-absent) before the bulk returns; a bulk killed mid-write
  leaves only files no version names (under ``_staging/``, or moved into
  a bucket but uncommitted), which no read ever lists — at-least-once
  means acked docs MUST all survive, unacked ones may or may not;
- **compaction crash-safety**: ``DocStore.compact`` writes the sealed
  file under a new name and commits a version that lists it in place of
  the files it read; no live file is renamed or overwritten, so a kill
  at any point leaves the last committed version intact. The restarted
  store's first ``maintain()`` sweeps every file no version names
  (``_Log.sweep`` in `seqspark/store.py`), once no write in any process
  holds ``_staging/`` (a write in flight is not a crash);
- **async-search resume**: persisted jobs still pending/running at the
  kill are re-executed by ``SeqSparkServer.resume_async()`` on restart
  (`seqspark/streaming.py:516`, the reference's `async_searcher.go:77-82`
  restart-resume).

Three rounds, each: start a child server process on the SHARED store dir,
ship concurrent bulks (a compaction loop runs inside the child), SIGKILL
mid-flight (round 3 also kills with async searches in flight), restart,
then assert every acked seq is searchable exactly once. Prints one JSON
line with per-round recovery timings.

Usage:
    python tools/crash_drill.py [--rounds 3] [--ship-seconds 6]
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import subprocess
import sys
import tempfile
import threading
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

BIG = 10**15
MAPPING_YAML = (
    "mapping-list:\n"
    "  - {name: service, type: keyword}\n"
    "  - {name: seq, type: keyword}\n"
    "  - {name: message, type: text}\n"
)


def child_main(dir_: str) -> None:
    from pyspark.sql import SparkSession

    from seqspark import MappingProvider
    from seqspark.server import SeqSparkServer
    from seqspark.store import DocStore

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    store = DocStore(spark, os.path.join(dir_, "store"))
    mapping_file = os.path.join(dir_, "mappings.yaml")
    if not os.path.exists(mapping_file):
        with open(mapping_file, "w") as f:
            f.write(MAPPING_YAML)
    provider = MappingProvider(mapping_file, update_period_s=3600)
    core = SeqSparkServer(
        spark, store, provider,
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        async_dir=os.path.join(dir_, "async"),
    ).start()
    # r13: the INTERNAL StoreApi gRPC transport on the same core — the
    # drill can ship bulks over gRPC framing, not just HTTP
    from seqspark.storegrpc import StoreGrpc

    grpc_srv = StoreGrpc(core).start()
    resumed = core.resume_async()
    print(json.dumps({"port": core.port, "grpc_port": grpc_srv.port,
                      "resumed": resumed}), flush=True)
    # compaction pressure so a SIGKILL lands mid-compaction with real odds;
    # the count ledger lets the parent assert compactions actually ran
    log = os.path.join(dir_, "compactions.log")
    while True:
        try:
            done = store.maintain(max_files_per_partition=4)
            if done:
                with open(log, "a") as f:
                    f.write(f"{len(done)}\n")
        except Exception:  # noqa: BLE001 — maintain races are survivable
            pass
        time.sleep(0.4)


def _http(port: int, path: str, body: bytes, timeout: float = 120.0):
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=body)
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return json.loads(r.read())


def _http_raw(port: int, path: str, body: bytes, timeout: float = 120.0) -> str:
    req = urllib.request.Request(f"http://127.0.0.1:{port}{path}", data=body)
    with urllib.request.urlopen(req, timeout=timeout) as r:
        return r.read().decode()


def _spawn(dir_: str):
    proc = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child", "--dir", dir_],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    t0 = time.time()
    info = None
    while info is None:
        line = proc.stdout.readline()
        if not line:
            raise RuntimeError("child died before reporting its port")
        try:
            cand = json.loads(line)
        except ValueError:
            continue  # stray JVM/Spark banner line on stdout
        if isinstance(cand, dict) and "port" in cand:
            info = cand
    port = info["port"]
    # first successful search marks the store readable again
    deadline = time.time() + 120
    while True:
        try:
            _http(port, "/search", b'{"query": "*", "size": 1}', timeout=10)
            break
        except Exception:  # noqa: BLE001
            if time.time() > deadline:
                raise
            time.sleep(0.2)
    return (proc, port, time.time() - t0, info.get("resumed", []),
            info.get("grpc_port"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--child", action="store_true")
    ap.add_argument("--dir")
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--ship-seconds", type=float, default=6.0)
    ap.add_argument(
        "--transport", choices=("http", "grpc"), default="http",
        help="bulk + async framing: ES HTTP _bulk, or the internal "
             "api.StoreApi gRPC service (r13 — same engine, different "
             "wire path; the kill must lose nothing either way)",
    )
    args = ap.parse_args()
    if args.child:
        child_main(args.dir)
        return

    dir_ = args.dir or tempfile.mkdtemp(prefix="crash_drill_")
    os.makedirs(dir_, exist_ok=True)
    acked: set = set()
    seq_lock = threading.Lock()
    seq_counter = [0]
    rounds_out = []

    def _grpc_bulk(gport: int, docs: list, timeout=30.0) -> None:
        """One StoreApi Bulk over a fresh channel (the drill kills the
        server mid-flight; per-call channels keep failures isolated)."""
        from seqspark.wire import storeapi as sa
        from seqspark.wire.grpc import GrpcChannel

        ch = GrpcChannel("127.0.0.1", gport, timeout=timeout)
        try:
            ch.unary(
                f"{sa.SERVICE}/Bulk",
                {"count": len(docs),
                 "docs": "\n".join(docs).encode()},
                sa.BULK_REQUEST, sa.EMPTY)
        finally:
            ch.close()

    for rnd in range(args.rounds):
        proc, port, start_s, resumed, gport = _spawn(dir_)
        stop = threading.Event()
        async_ids: list = []

        # synchronous warmup bulk: the first write pays JVM/committer
        # warmup (~5-10 s); the kill window must measure steady-state
        with seq_lock:
            wbase = seq_counter[0]
            seq_counter[0] += 5
        wlines = []
        for d in range(5):
            wlines.append('{"index": {}}')
            wlines.append(json.dumps({
                "timestamp": "2024-01-01 10:00:00.000",
                "service": "warm", "seq": str(wbase + d),
                "message": f"warm {wbase + d}",
            }))
        if args.transport == "grpc":
            _grpc_bulk(gport, [json.dumps({
                "timestamp": "2024-01-01 10:00:00.000",
                "service": "warm", "seq": str(wbase + d),
                "message": f"warm {wbase + d}",
            }) for d in range(5)], timeout=120.0)
            # an unraised gRPC Bulk IS the ack (Empty arrived)
            acked.update(str(wbase + d) for d in range(5))
        else:
            wresp = _http(port, "/_bulk", "\n".join(wlines).encode(),
                          timeout=120)
            if not wresp.get("errors"):
                acked.update(str(wbase + d) for d in range(5))

        def shipper(tid: int, port=port, gport=gport, stop=stop):
            while not stop.is_set():
                with seq_lock:
                    base = seq_counter[0]
                    seq_counter[0] += 20
                docs = [json.dumps({
                    "timestamp": f"2024-01-01 {10 + (base % 6):02d}"
                                 f":00:{(tid * 7 + d) % 60:02d}.000",
                    "service": f"svc{tid}",
                    "seq": str(base + d),
                    "message": f"msg {tid} {base + d}",
                }) for d in range(20)]
                try:
                    if args.transport == "grpc":
                        _grpc_bulk(gport, docs)
                        ok = True
                    else:
                        lines = []
                        for doc in docs:
                            lines.append('{"index": {}}')
                            lines.append(doc)
                        resp = _http(port, "/_bulk",
                                     "\n".join(lines).encode(), timeout=30)
                        ok = not resp.get("errors")
                    if ok:
                        with seq_lock:
                            acked.update(
                                str(base + d) for d in range(20)
                            )
                except Exception:  # noqa: BLE001
                    pass  # killed mid-flight: unacked, allowed to be lost

        ships = [threading.Thread(target=shipper, args=(t,)) for t in range(2)]
        for t in ships:
            t.start()
        time.sleep(args.ship_seconds)
        if rnd == args.rounds - 1:
            # async-resume scenario: searches in flight at the kill
            if args.transport == "grpc":
                from seqspark.wire import storeapi as sa
                from seqspark.wire.grpc import GrpcChannel

                for i in range(3):
                    sid = f"drill-{rnd}-{i}"
                    try:
                        ch = GrpcChannel("127.0.0.1", gport, timeout=30)
                        try:
                            ch.unary(
                                f"{sa.SERVICE}/StartAsyncSearch",
                                {"search_id": sid, "query": "*",
                                 "from": 0, "to": 4102444800000},
                                sa.START_ASYNC_SEARCH_REQUEST,
                                sa.START_ASYNC_SEARCH_RESPONSE)
                            async_ids.append(sid)
                        finally:
                            ch.close()
                    except Exception:  # noqa: BLE001
                        pass
            else:
                for _ in range(3):
                    try:
                        out = _http(port, "/async/start",
                                    json.dumps({"query": "*", "size": 10,
                                                "with_total": True}).encode(),
                                    timeout=30)
                        async_ids.append(out["search_id"])
                    except Exception:  # noqa: BLE001
                        pass
            time.sleep(0.2)
        # SIGKILL while bulks (and possibly a compaction) are mid-flight
        os.kill(proc.pid, signal.SIGKILL)
        kill_t = time.time()
        stop.set()
        for t in ships:
            t.join(timeout=60)
        proc.wait(timeout=30)

        proc2, port2, recovery_s, resumed2, gport2 = _spawn(dir_)
        # verify: every acked seq present EXACTLY once
        body = _http_raw(port2, "/export", json.dumps(
            {"query": {"query": "*",
                       "from": "2020-01-01T00:00:00Z",
                       "to": "2100-01-01T00:00:00Z"},
             "size": 100_000}).encode())  # MAX_SEARCH_DOCS cap
        found: list = []
        for line in body.splitlines():
            if not line.strip():
                continue
            try:
                frame = json.loads(line)
            except ValueError:
                raise RuntimeError(f"bad export line: {line[:200]!r}")
            doc = frame.get("result", {}).get("doc")
            if doc:
                import base64

                raw = base64.b64decode(doc["data"])  # gateway bytes field
                found.append(json.loads(raw)["seq"])
        lost = acked - set(found)
        dup = len(found) - len(set(found))
        done_async = 0
        if async_ids:
            deadline = time.time() + 120
            pending = list(async_ids)
            while pending and time.time() < deadline:
                for sid in list(pending):
                    try:
                        if args.transport == "grpc":
                            from seqspark.wire import storeapi as sa
                            from seqspark.wire.grpc import GrpcChannel

                            ch = GrpcChannel("127.0.0.1", gport2, timeout=30)
                            try:
                                res = ch.unary(
                                    f"{sa.SERVICE}/FetchAsyncSearchResult",
                                    {"search_id": sid},
                                    sa.FETCH_ASYNC_SEARCH_RESULT_REQUEST,
                                    sa.FETCH_ASYNC_SEARCH_RESULT_RESPONSE)
                            finally:
                                ch.close()
                            if res.get("done"):
                                done_async += 1
                                pending.remove(sid)
                        else:
                            res = _http(
                                port2, "/async/fetch",
                                json.dumps({"search_id": sid}).encode(),
                                timeout=30)
                            if res.get("status") == "done":
                                done_async += 1
                                pending.remove(sid)
                    except Exception:  # noqa: BLE001
                        pass
                time.sleep(0.5)
        rounds_out.append({
            "round": rnd,
            "acked_so_far": len(acked),
            "found": len(set(found)),
            "lost_acked": len(lost),
            "duplicates": dup,
            "start_s": round(start_s, 1),
            "recovery_s": round(recovery_s, 1),
            "resume_to_first_search_s": round(time.time() - kill_t, 1),
            "async_started": len(async_ids),
            "async_done_after_restart": done_async,
            "async_resumed_ids": len(resumed2),
        })
        os.kill(proc2.pid, signal.SIGKILL)
        proc2.wait(timeout=30)

    compactions = 0
    log = os.path.join(dir_, "compactions.log")
    if os.path.exists(log):
        with open(log) as f:
            compactions = sum(int(x) for x in f.read().split())
    ok = all(
        r["lost_acked"] == 0 and r["duplicates"] == 0 for r in rounds_out
    ) and compactions > 0
    print(json.dumps({
        "metric": "seqspark_crash_drill",
        "transport": args.transport,
        "rounds": rounds_out,
        "compactions_across_rounds": compactions,
        "ok": ok,
    }))
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
