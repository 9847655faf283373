"""Start the seqspark server with a span around the public functions of
each layer, then hand over to the CLI entry point.

    PERFBENCH_TRACE_OUT=spans.json python perfbench/traced_server.py \\
        --data-dir ./store --mapping mapping.yaml ...

Arguments are the ``python -m seqspark`` flags. Each name is patched
where the caller looks it up (``seqspark.server.parse_bulk_body``,
``seqspark.engine.parse``, class attributes for methods), so the program
itself is unchanged. Spans stay in memory and are written to
``$PERFBENCH_TRACE_OUT`` when the server stops, together with the Spark
jobs and stages read from the Spark status REST API.

Recording starts on. ``SIGUSR1`` pauses it and ``SIGUSR2`` resumes it;
after either, the new state (``off``/``on``) is written to
``$PERFBENCH_TRACE_OUT.state``, so the load generator can time an
untraced window and a traced window against one server.

With ``PERFBENCH_PLAN_DIGESTS=1`` the first execution of every distinct
``/search`` or ``/complex`` request body records the canonical digest of
the physical plans it collected (``bench.py``'s ``_canon``), so a timing
change can be told apart from a plan change.
"""

from __future__ import annotations

import functools
import hashlib
import inspect
import itertools
import json
import os
import signal
import sys
import threading
import time
import urllib.request
from urllib.parse import urlparse

#: span name -> patch points ("module:attr" or "module:Class.attr")
TARGETS = {
    "server.handler": ["seqspark.server:SeqSparkServer.search",
                       "seqspark.server:SeqSparkServer.complex",
                       "seqspark.server:SeqSparkServer.bulk"],
    "server.table_build": ["seqspark.engine:SearchTable.from_store"],
    "grpcapi.handler": ["seqspark.grpcapi:SeqProxyGrpc.search",
                        "seqspark.grpcapi:SeqProxyGrpc.complex_search"],
    "wire.codec": ["seqspark.wire.pb:encode", "seqspark.wire.pb:decode",
                   "seqspark.gateway:json_to_proto",
                   "seqspark.gateway:proto_to_json"],
    "seqql.parse": ["seqspark.engine:parse", "seqspark.engine:parse_legacy"],
    "compile.compile": ["seqspark.engine:compile_node"],
    "engine.search": ["seqspark.engine:SearchTable.search"],
    "engine.build": ["seqspark.engine:SearchTable.aggregate",
                     "seqspark.engine:SearchTable.complex_search",
                     "seqspark.engine:SearchTable.total"],
    "engine.collect": ["pyspark.sql.classic.dataframe:DataFrame.collect",
                       "pyspark.sql.classic.dataframe:DataFrame.count"],
    "spark.persist": ["pyspark.sql.classic.dataframe:DataFrame.persist",
                      "pyspark.sql.classic.dataframe:DataFrame.cache"],
    "index.semi_join": ["seqspark.index:matching_ids_multi",
                        "seqspark.index:matching_ids_or",
                        "seqspark.index:matching_ids_wildcard"],
    "index.two_phase": ["seqspark.engine:SearchTable.two_phase_search"],
    "index.refresh": ["seqspark.index:StoreIndex.refresh_stale"],
    "bulk.parse": ["seqspark.server:parse_bulk_body"],
    "bulk.to_df": ["seqspark.server:bulk_to_df"],
    "ingest.transform_build": ["seqspark.server:make_ingest_transform"],
    "store.append": ["seqspark.store:DocStore.append"],
    "store.compact": ["seqspark.store:DocStore.compact"],
}


class Recorder:
    """In-memory span store. A span is ``[id, name, parent id, thread id,
    start ns, end ns]`` on the epoch clock; the parent is the innermost
    open span of the same thread (``-1`` at a root)."""

    def __init__(self):
        self.on = True
        self.spans: list = []
        self.digests: dict = {}
        self._ids = itertools.count()
        self._local = threading.local()
        self._epoch_off = time.time_ns() - time.perf_counter_ns()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def wrap(self, name: str, fn):
        rec = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not rec.on:
                return fn(*args, **kwargs)
            stack = rec._stack()
            span = [next(rec._ids), name, stack[-1][0] if stack else -1,
                    threading.get_ident(), 0, 0]
            stack.append(span)
            span[4] = time.perf_counter_ns() + rec._epoch_off
            try:
                return fn(*args, **kwargs)
            finally:
                span[5] = time.perf_counter_ns() + rec._epoch_off
                stack.pop()
                rec.spans.append(span)  # list.append is atomic under the GIL

        return traced


def _patch(rec: Recorder, name: str, point: str) -> None:
    import importlib

    mod_name, _, path = point.partition(":")
    owner = importlib.import_module(mod_name)
    *outer, attr = path.split(".")
    for part in outer:
        owner = getattr(owner, part)
    raw = inspect.getattr_static(owner, attr)
    if isinstance(raw, classmethod):
        setattr(owner, attr, classmethod(rec.wrap(name, raw.__func__)))
    elif isinstance(raw, staticmethod):
        setattr(owner, attr, staticmethod(rec.wrap(name, raw.__func__)))
    else:
        setattr(owner, attr, rec.wrap(name, raw))


def install(rec: Recorder) -> None:
    for name, points in TARGETS.items():
        for point in points:
            _patch(rec, name, point)


def install_plan_digests(rec: Recorder) -> None:
    """Digest the plans each distinct request body collects, once."""
    try:
        from bench import _canon, _plan_str
    except ImportError as e:  # bench.py gone: report, do not fail the run
        rec.digests["unavailable"] = str(e)
        return
    from pyspark.sql.classic.dataframe import DataFrame

    from seqspark.server import SeqSparkServer

    local = threading.local()
    collect = DataFrame.collect

    def collect_with_plan(df):
        plans = getattr(local, "plans", None)
        if plans is not None:
            plans.append(_canon(_plan_str(df)))
        return collect(df)

    def with_key(fn):
        @functools.wraps(fn)
        def handler(self, req):
            key = json.dumps(req, sort_keys=True)
            first = key not in rec.digests
            local.plans = [] if first else None
            try:
                return fn(self, req)
            finally:
                if first and local.plans:
                    rec.digests[key] = hashlib.sha256(
                        "\n---\n".join(local.plans).encode()
                    ).hexdigest()[:16]
                local.plans = None

        return handler

    DataFrame.collect = collect_with_plan
    SeqSparkServer.search = with_key(SeqSparkServer.search)
    SeqSparkServer.complex = with_key(SeqSparkServer.complex)


def _spark_rest(spark, what: str) -> list:
    """All jobs or stages of this application from the status REST API."""
    url = spark.sparkContext.uiWebUrl
    if not url:
        return []
    port = urlparse(url).port
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(
        f"http://127.0.0.1:{port}/api/v1/applications/{app}/{what}",
        timeout=60,
    ) as r:
        return json.loads(r.read())


def main(argv: list) -> None:
    out = os.environ["PERFBENCH_TRACE_OUT"]
    rec = Recorder()

    def toggle(on: bool):
        def handler(signum, frame):
            rec.on = on
            with open(out + ".state", "w") as f:
                f.write("on" if on else "off")
        return handler

    signal.signal(signal.SIGUSR1, toggle(False))
    signal.signal(signal.SIGUSR2, toggle(True))
    install(rec)
    if os.environ.get("PERFBENCH_PLAN_DIGESTS") == "1":
        install_plan_digests(rec)

    from seqspark.__main__ import main as serve

    rt = serve(argv)  # blocks until SIGTERM, then stops the listeners
    rec.on = False
    keys = ("jobId", "submissionTime", "completionTime", "numTasks", "status")
    skeys = ("stageId", "attemptId", "numTasks", "executorRunTime",
             "submissionTime", "completionTime", "status")
    jobs = [{k: j.get(k) for k in keys} for j in _spark_rest(rt.spark, "jobs")]
    stages = [{k: s.get(k) for k in skeys}
              for s in _spark_rest(rt.spark, "stages")]
    with open(out + ".tmp", "w") as f:
        json.dump({"spans": rec.spans, "jobs": jobs, "stages": stages,
                   "digests": rec.digests}, f)
    os.replace(out + ".tmp", out)
    rt.spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
