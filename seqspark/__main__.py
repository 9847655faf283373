"""seq-db-shaped CLI: serve the engine with the reference binary's flags.

    python -m seqspark --data-dir ./data --mapping ./mapping.yaml

Starts the HTTP surface (ES bulk + search + export + async + debug
endpoints) and the seqproxyapi.v1 gRPC transport over one engine, plus
the background maintenance loop (sealing/compaction + size rotation —
`fracmanager/fracmanager.go:344-385` / `:106-148`). Flag names, value
syntax (Go durations `24h`/`5m`, sizes `128MB`/`1GiB`) and defaults
follow `cmd/seq-db/flags.go` where the concept maps; cluster-topology
flags (shards/replicas/stores) are out of scope — Spark owns
distribution (SURVEY §7.0).
"""

from __future__ import annotations

import argparse
import os
import re
import threading
from typing import Optional

_DUR = re.compile(r"(\d+(?:\.\d+)?)(ms|s|m|h|d)")
_DUR_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}

_SIZE = re.compile(r"^(\d+(?:\.\d+)?)\s*(B|KB|KiB|MB|MiB|GB|GiB|TB|TiB)?$",
                   re.IGNORECASE)
_SIZE_B = {None: 1, "b": 1,
           "kb": 10**3, "kib": 2**10, "mb": 10**6, "mib": 2**20,
           "gb": 10**9, "gib": 2**30, "tb": 10**12, "tib": 2**40}


def duration_ms(text: str) -> int:
    """Go-style duration ('24h', '1h30m', '500ms') → milliseconds."""
    parts = _DUR.findall(text.strip())
    if not parts or _DUR.sub("", text.strip()):
        raise argparse.ArgumentTypeError(f"bad duration: {text!r}")
    return int(sum(float(n) * _DUR_MS[u] for n, u in parts))


def size_bytes(text: str) -> int:
    """Go-style byte size ('128MB', '1GiB') → bytes."""
    m = _SIZE.match(text.strip())
    if not m:
        raise argparse.ArgumentTypeError(f"bad size: {text!r}")
    n, unit = m.groups()
    return int(float(n) * _SIZE_B[unit.lower() if unit else None])


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m seqspark",
        description="seq-db-compatible analytics engine on PySpark",
    )
    p.add_argument("--data-dir", required=True,
                   help="store root (local path, hdfs:// or s3a://)")
    p.add_argument("--long-term-dir", default=None,
                   help="cold tier root; enables the hot/cold TieredStore")
    p.add_argument("--mapping", required=True,
                   help="mapping YAML path, or 'auto' to index all fields")
    p.add_argument("--enable-mapping-updates", action="store_true")
    p.add_argument("--mapping-update-period", type=duration_ms,
                   default=duration_ms("30s"))
    p.add_argument("--addr", default="127.0.0.1:0",
                   help="HTTP listen host:port (port 0 = ephemeral)")
    p.add_argument("--proxy-grpc-addr", default="127.0.0.1:0",
                   help="gRPC listen host:port")
    p.add_argument("--tls-cert", default=None,
                   help="PEM certificate chain: serve the gRPC listener "
                   "over TLS (ALPN h2) instead of h2c; requires --tls-key")
    p.add_argument("--tls-key", default=None,
                   help="PEM private key for --tls-cert")
    p.add_argument("--case-sensitive", action="store_true")
    p.add_argument("--allowed-time-drift", type=duration_ms,
                   default=duration_ms("24h"))
    p.add_argument("--future-allowed-time-drift", type=duration_ms,
                   default=duration_ms("5m"))
    p.add_argument("--max-inflight-bulks", type=int, default=32)
    p.add_argument("--search-requests-limit", type=int, default=30)
    p.add_argument("--query-rate-limit", type=float, default=None,
                   help="max requests/sec per query shape (off by default)")
    p.add_argument("--log-search-threshold-ms", type=int, default=3000)
    p.add_argument("--log-bulk-threshold-ms", type=int, default=0)
    p.add_argument("--log-fetch-threshold-ms", type=int, default=3000)
    p.add_argument("--search-fraction-limit", type=int, default=6000)
    p.add_argument("--async-searches-concurrency", type=int, default=None)
    p.add_argument("--data-dir-async-searches", default=None)
    p.add_argument("--mirror-addr", default=None)
    p.add_argument("--es-version", default=None)
    p.add_argument("--use-seq-ql-by-default", action="store_true",
                   help="reference default is legacy; pass this for seq-ql")
    p.add_argument("--total-size", type=size_bytes, default=size_bytes("1GB"),
                   help="hot-store rotation bound (oldest buckets dropped)")
    p.add_argument("--maintenance-period", type=duration_ms,
                   default=duration_ms("10s"),
                   help="sealing/rotation loop period")
    p.add_argument("--doc-bloom-at", choices=("always", "seal"),
                   default="always",
                   help="when the store writes the doc-id parquet bloom "
                        "filter: 'always' (every file skippable for "
                        "fetch-by-id) or 'seal' (compaction only — zero "
                        "ingest tax, the reference's seal-then-index "
                        "shape)")
    p.add_argument("--max-files-per-partition", type=int, default=8,
                   help="compaction trigger (files per time bucket)")
    p.add_argument("--index-dir", default=None,
                   help="materialized inverted-index directory (r16): "
                        "built over the startup mapping's text fields, "
                        "refreshed by the maintenance loop after appends "
                        "(the reference's seal-time index build); wires "
                        "index routing (posting semi-join or two-phase "
                        "search→fetch, by --two-phase-min-doc-bytes) "
                        "into every transport")
    p.add_argument("--two-phase-min-doc-bytes", type=int, default=1024,
                   help="the width rule of index routing, in average "
                        "stored doc bytes (parquet footer bytes/rows): "
                        "at or above it, bounded, fully index-covered "
                        "searches take the two-phase plan and other "
                        "selective text filters the posting semi-join; "
                        "below it, every search is the plain column scan")
    p.add_argument("--spark-master", default=None,
                   help="override (default local[$SPARK_GRAFT_CPUS])")
    p.add_argument("--arrow-max-bytes-per-batch", type=size_bytes,
                   default=size_bytes("64MiB"),
                   help="Arrow record-batch byte cap for Python stages "
                        "(spark.sql.execution.arrow.maxBytesPerBatch). "
                        "Multimodal mapInArrow stages carry multi-MB "
                        "binary assets; the default rows-per-batch cap "
                        "alone would let one batch hold GBs and pressure "
                        "Python worker memory. Only applied to sessions "
                        "this CLI builds (an externally passed session "
                        "keeps its own conf)")
    return p


class Runtime:
    """Live server bundle; ``stop()`` tears everything down in order."""

    def __init__(self, spark, store, http, grpc, provider, maint_stop,
                 maint_thread):
        self.spark = spark
        self.store = store
        self.http = http
        self.grpc = grpc
        self.provider = provider
        self._maint_stop = maint_stop
        self._maint_thread = maint_thread

    def stop(self) -> None:
        self._maint_stop.set()
        # join: a compaction still in flight after stop() returned
        # would race the caller's cleanup (e.g. deleting the data dir)
        self._maint_thread.join(timeout=60)
        self.grpc.stop()
        self.http.stop()


def _maintenance_loop(store, stop, period_ms, total_size, max_files,
                      http=None):
    """`fracmanager` background pass: compact oversized buckets, then
    rotate oldest buckets past the size bound. TieredStore.maintain does
    both with rotation TOMBSTONES (plain hot.retain would lose bucket
    ownership); a bare DocStore uses maintain+retain."""
    import logging

    log = logging.getLogger("seqspark.cli")
    while not stop.wait(period_ms / 1000.0):
        try:
            if hasattr(store, "hot"):
                store.maintain(hot_max_total_bytes=total_size,
                               max_files_per_partition=max_files)
            else:
                store.maintain(max_files_per_partition=max_files)
                store.retain(max_total_bytes=total_size)
            if (http is not None and http._store_index is not None
                    and http._store_index.stale_buckets()):
                # the store changed since the last index build: rebuild
                # and re-arm index routing (seal-time indexing cadence)
                http.refresh_index()
        except Exception as e:  # noqa: BLE001 - loop must survive
            log.error("maintenance pass failed: %s", e)


def main(argv: Optional[list] = None, spark=None, block: bool = True):
    """Build and start everything; returns the Runtime (tests pass
    ``block=False`` and an existing SparkSession)."""
    parser = build_parser()
    args = parser.parse_args(argv)
    if (args.tls_cert is None) != (args.tls_key is None):
        # fail as a clean usage error BEFORE any listener binds — the
        # H2Server constructor would otherwise raise mid-startup with the
        # HTTP core already started
        parser.error("--tls-cert and --tls-key must be given together")

    if spark is None:
        from pyspark.sql import SparkSession

        cpus = os.environ.get("SPARK_GRAFT_CPUS", "8")
        master = args.spark_master or f"local[{cpus}]"
        spark = (
            SparkSession.builder.master(master)
            .appName("seqspark")
            .config("spark.sql.shuffle.partitions", cpus)
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            # per-DataFrame-call Python stack capture for error
            # decoration costs ~2x driver CPU on query construction
            # (measured r17); serving paths build many frames per request
            .config("spark.python.sql.dataFrameDebugging.enabled", "false")
            # bound Arrow batches by BYTES, not just rows: multimodal
            # mapInArrow stages move multi-MB binary assets, and 10k
            # rows of those in one batch would pressure Python worker
            # memory (guide §4.2/§5); --arrow-max-bytes-per-batch
            .config("spark.sql.execution.arrow.maxBytesPerBatch",
                    str(args.arrow_max_bytes_per_batch))
            .getOrCreate()
        )

    from .mapping import MappingProvider
    from .store import DocStore, TieredStore

    if args.mapping == "auto":
        mapping = MappingProvider(index_all_fields=True)
    else:
        mapping = MappingProvider(
            args.mapping,
            update_period_s=args.mapping_update_period / 1000.0,
        )
        if args.enable_mapping_updates:
            mapping.watch()

    store = DocStore(spark, args.data_dir, bloom_at=args.doc_bloom_at)
    if args.long_term_dir:
        store = TieredStore(
            store,
            DocStore(spark, args.long_term_dir,
                     bloom_at=args.doc_bloom_at),
        )

    index = None
    if args.index_dir:
        from pyspark.sql import functions as F

        from .index import StoreIndex

        # token columns follow the STARTUP mapping's text/path fields
        # (live mapping updates change query compilation, not the
        # seal-time index schema — same as the reference)
        text_fields = [
            fm.name for fm in mapping.get().fields()
            if fm.main_type in ("text", "path")
        ]
        if not text_fields:
            parser.error("--index-dir needs at least one text/path field "
                         "in the mapping")
        index = StoreIndex(
            store, args.index_dir,
            {f: F.col("tokens")[f] for f in text_fields},
        )
        # cover whatever the store already holds — incrementally: only
        # buckets built from other files than the store lists rebuild (a
        # restart over a current on-disk index is a no-op, not a full
        # re-index), and dead buckets are pruned
        index.refresh_stale()

    from .grpcapi import SeqProxyGrpc
    from .server import SeqSparkServer

    host, _, port = args.addr.rpartition(":")
    ghost, _, gport = args.proxy_grpc_addr.rpartition(":")
    http = SeqSparkServer(
        spark, store, mapping,
        host=host or "127.0.0.1", port=int(port or 0),
        max_inflight=args.max_inflight_bulks,
        allowed_drift_ms=args.allowed_time_drift,
        future_drift_ms=args.future_allowed_time_drift,
        log_search_threshold_ms=args.log_search_threshold_ms,
        log_bulk_threshold_ms=args.log_bulk_threshold_ms,
        log_fetch_threshold_ms=args.log_fetch_threshold_ms,
        query_rate_limit=args.query_rate_limit,
        max_inflight_searches=args.search_requests_limit,
        mirror_url=args.mirror_addr,
        async_dir=args.data_dir_async_searches,
        max_fraction_hits=args.search_fraction_limit,
        async_parallelism=args.async_searches_concurrency,
        es_version=args.es_version,
        case_sensitive=args.case_sensitive,
        use_seq_ql_by_default=args.use_seq_ql_by_default,
        index=index,
        two_phase_min_doc_bytes=args.two_phase_min_doc_bytes,
    ).start()
    grpc = SeqProxyGrpc(http, host=ghost or "127.0.0.1",
                        port=int(gport or 0),
                        tls_cert=args.tls_cert,
                        tls_key=args.tls_key).start()

    maint_stop = threading.Event()
    maint_thread = threading.Thread(
        target=_maintenance_loop,
        args=(store, maint_stop, args.maintenance_period,
              args.total_size, args.max_files_per_partition, http),
        daemon=True, name="maintenance",
    )
    maint_thread.start()

    rt = Runtime(spark, store, http, grpc, mapping, maint_stop,
                 maint_thread)
    print(f"seqspark serving http://127.0.0.1:{http.port} "
          f"grpc://127.0.0.1:{grpc.port} data={args.data_dir}")
    if block:
        # SIGTERM (k8s/systemd shutdown) gets the same graceful stop as
        # ^C: drain the maintenance pass, close both listeners
        import signal

        done = threading.Event()
        signal.signal(signal.SIGTERM, lambda *a: done.set())
        try:
            done.wait()
        except KeyboardInterrupt:
            pass
        rt.stop()
    return rt


if __name__ == "__main__":
    main()
