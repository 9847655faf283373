"""Per-layer metrics from the traced server's spans and Spark jobs.

Every metric is measured over the traced window, per attempted
operation unless its name says otherwise, and names the end-to-end
metric and workload it should move (``MOVES``), so a change to one
layer says up front where its gain must show.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import time
from typing import Dict, List, Optional, TextIO

from stats import self_times

#: layer metric -> (unit, end-to-end metrics it should move, workload)
MOVES = {
    "server.handler_self_ms": ("ms", "search_cpu_ms", "dashboard"),
    "server.http_overhead_ms": ("ms", "search_cpu_ms", "dashboard"),
    "server.table_builds_per_op": ("count", "search_cpu_ms", "ingest"),
    "grpcapi.handler_self_ms": ("ms", "search_cpu_ms", "ingest"),
    "wire.codec_ms": ("ms", "search_cpu_ms", "ingest"),
    "seqql.parse_ms": ("ms", "search_cpu_ms", "ingest"),
    "seqql.parses_per_op": ("count", "search_cpu_ms", "ingest"),
    "compile.compile_ms": ("ms", "search_cpu_ms", "ingest"),
    "engine.build_self_ms": ("ms", "search_cpu_ms, complex_cpu_ms", "ingest"),
    "engine.plan_cache_hit_ratio": ("ratio", "search_cpu_ms, server_cpu_ms_per_op", "dashboard"),
    "engine.collect_ms": ("ms", "search_cpu_ms, complex_cpu_ms", "both"),
    "spark.jobs_per_op": ("count", "complex_cpu_ms", "dashboard"),
    "spark.tasks_per_op": ("count", "complex_cpu_ms", "dashboard"),
    "spark.persists_per_op": ("count", "complex_cpu_ms", "dashboard"),
    "spark.job_ms": ("ms", "server_cpu_ms_per_op", "dashboard"),
    "spark.task_ms": ("ms", "server_cpu_ms_per_op", "dashboard"),
    "spark.plan_gap_ms": ("ms", "search_cpu_ms", "ingest"),
    "index.semi_joins_per_op": ("count", "search_cpu_ms", "ingest"),
    "index.two_phase_ratio": ("ratio", "search_cpu_ms", "ingest"),
    "index.refresh_ms": ("ms", "server_cpu_ms_per_op", "ingest"),
    "bulk.parse_ms": ("ms", "server_cpu_ms_per_op", "ingest"),
    "bulk.to_df_ms": ("ms", "server_cpu_ms_per_op", "ingest"),
    "ingest.transform_builds": ("count", "server_cpu_ms_per_op", "ingest"),
    "store.append_ms": ("ms", "server_cpu_ms_per_op", "ingest"),
    "store.appends_per_bulk": ("ratio", "server_cpu_ms_per_op", "ingest"),
    "store.compact_ms": ("ms", "server_cpu_ms_per_op, store_bytes_per_doc_byte", "ingest"),
    "store.compactions": ("count", "server_cpu_ms_per_op, store_bytes_per_doc_byte", "ingest"),
    "store.files_per_bucket": ("count", "server_cpu_ms_per_op, store_bytes_per_doc_byte", "ingest"),
}
UNITS = {k: v[0] for k, v in MOVES.items()}


def wait_state(trace_out: str, state: str, timeout_s: float = 30.0) -> None:
    """Wait until the traced server acknowledged a recording toggle."""
    path = trace_out + ".state"
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        try:
            with open(path) as f:
                if f.read() == state:
                    return
        except OSError:
            pass
        time.sleep(0.01)
    raise TimeoutError(f"traced server never turned recording {state}")


def load_dump(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def _epoch_ns(rest_time: str) -> int:
    """Spark REST time (``2026-01-01T10:00:00.123GMT``) -> epoch ns."""
    t = dt.datetime.strptime(rest_time.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return int(t.replace(tzinfo=dt.timezone.utc).timestamp() * 1000) * 1_000_000


def _inside(t: int, intervals: List[tuple]) -> bool:
    return any(a <= t <= b for a, b in intervals)


class Spans:
    """Spans of the traced dump, indexed by name, with self times.
    ``window`` holds those that started inside a traced block."""

    def __init__(self, raw: List[list], intervals: List[tuple]):
        self.all = [{"id": s[0], "name": s[1], "parent": s[2], "start": s[4],
                     "end": s[5]} for s in raw]
        self.by_id = {s["id"]: s for s in self.all}
        self.self_ns = self_times(self.all)
        self.window = [s for s in self.all if _inside(s["start"], intervals)]

    def named(self, name: str, intervals: Optional[List[tuple]] = None) -> List[dict]:
        """Window spans of ``name``, or those that started in ``intervals``."""
        spans = (self.window if intervals is None else
                 [s for s in self.all if _inside(s["start"], intervals)])
        return [s for s in spans if s["name"] == name]

    def top(self, name: str) -> List[dict]:
        """Window spans of ``name`` not nested in another ``name`` span."""
        return [s for s in self.named(name)
                if self.by_id.get(s["parent"], {}).get("name") != name]


def _ms(ns: float) -> float:
    return ns / 1e6


def per_layer(dump: dict, ops: list, intervals: List[tuple],
              bulk_intervals: List[tuple], files_per_bucket: float) -> Dict[str, float]:
    """Layer metrics over the traced intervals ``intervals`` (epoch ns) of
    the window; ``ops`` are the ops sent in them. ``bulk.*`` and
    ``store.append*`` are per bulk over ``bulk_intervals``."""
    sp = Spans(dump["spans"], intervals)
    n = max(1, len(ops))

    def total(name: str, top: bool = False) -> float:
        spans = sp.top(name) if top else sp.named(name)
        return sum(s["end"] - s["start"] for s in spans)

    def self_total(*names: str) -> float:
        return sum(sp.self_ns[s["id"]] for nm in names for s in sp.named(nm))

    m: Dict[str, float] = {}
    m["server.handler_self_ms"] = _ms(self_total("server.handler")) / n
    http_ops = [op for op in ops if op.transport == "http" and op.error is None]
    roots = [s for s in sp.named("server.handler") if s["parent"] == -1]
    m["server.http_overhead_ms"] = (
        sum(op.latency_ms for op in http_ops) / len(http_ops)
        - _ms(sum(s["end"] - s["start"] for s in roots)) / len(roots)
    ) if http_ops and roots else 0.0
    m["server.table_builds_per_op"] = len(sp.named("server.table_build")) / n
    m["grpcapi.handler_self_ms"] = _ms(self_total("grpcapi.handler")) / n
    m["wire.codec_ms"] = _ms(total("wire.codec", top=True)) / n
    m["seqql.parse_ms"] = _ms(total("seqql.parse")) / n
    m["seqql.parses_per_op"] = len(sp.named("seqql.parse")) / n
    m["compile.compile_ms"] = _ms(total("compile.compile")) / n
    m["engine.build_self_ms"] = _ms(self_total("engine.search", "engine.build")) / n
    searches = sp.named("engine.search")
    # a search that parsed its query missed the prepared-plan cache
    parsed = {p for p in (
        _enclosing(sp, s, "engine.search") for s in sp.named("seqql.parse"))
        if p is not None}
    m["engine.plan_cache_hit_ratio"] = (
        1.0 - len(parsed) / len(searches) if searches else 0.0)
    collects = sp.top("engine.collect")
    m["engine.collect_ms"] = _ms(sum(s["end"] - s["start"] for s in collects)) / n

    jobs = [j for j in dump["jobs"] if j.get("submissionTime")
            and j.get("completionTime")]
    for j in jobs:
        j["t0"], j["t1"] = _epoch_ns(j["submissionTime"]), _epoch_ns(j["completionTime"])
    jobs = [j for j in jobs if _inside(j["t0"], intervals)]
    stages = [s for s in dump["stages"] if s.get("submissionTime")
              and _inside(_epoch_ns(s["submissionTime"]), intervals)]
    m["spark.jobs_per_op"] = len(jobs) / n
    m["spark.tasks_per_op"] = sum(j.get("numTasks") or 0 for j in jobs) / n
    m["spark.persists_per_op"] = len(sp.named("spark.persist")) / n
    m["spark.job_ms"] = _ms(sum(j["t1"] - j["t0"] for j in jobs)) / n
    m["spark.task_ms"] = sum(s.get("executorRunTime") or 0 for s in stages) / n
    # jobs launched inside a collect: the rest of the collect time is
    # Catalyst planning, scheduling and result transfer
    starts = sorted((s["start"], s["end"]) for s in collects)
    keys = [a for a, _ in starts]
    in_collect = 0
    for j in jobs:
        i = bisect.bisect_right(keys, j["t0"]) - 1
        if i >= 0 and starts[i][0] <= j["t0"] <= starts[i][1]:
            in_collect += j["t1"] - j["t0"]
    m["spark.plan_gap_ms"] = m["engine.collect_ms"] - _ms(in_collect) / n

    m["index.semi_joins_per_op"] = len(sp.named("index.semi_join")) / n
    m["index.two_phase_ratio"] = (
        len(sp.named("index.two_phase")) / len(searches) if searches else 0.0)
    m["index.refresh_ms"] = _ms(total("index.refresh")) / n

    nb = max(1, len(sp.named("bulk.parse", bulk_intervals)))

    def per_bulk(name: str) -> float:
        return _ms(sum(s["end"] - s["start"]
                       for s in sp.named(name, bulk_intervals))) / nb

    m["bulk.parse_ms"] = per_bulk("bulk.parse")
    m["bulk.to_df_ms"] = per_bulk("bulk.to_df")
    m["ingest.transform_builds"] = float(
        sum(s["name"] == "ingest.transform_build" for s in sp.all))
    m["store.append_ms"] = per_bulk("store.append")
    m["store.appends_per_bulk"] = len(sp.named("store.append", bulk_intervals)) / nb
    m["store.compact_ms"] = _ms(total("store.compact")) / n
    m["store.compactions"] = float(len(sp.named("store.compact")))
    m["store.files_per_bucket"] = files_per_bucket
    return m


def _enclosing(sp: Spans, span: dict, name: str):
    p = sp.by_id.get(span["parent"])
    while p is not None:
        if p["name"] == name:
            return p["id"]
        p = sp.by_id.get(p["parent"])
    return None


def print_table(workload: str, metrics: Dict[str, float],
                overhead: Dict[str, float], dump: dict, out: TextIO) -> None:
    print(f"per-layer metrics, workload {workload} (traced operations)", file=out)
    print(f"  {'metric':30} {'value':>12} {'unit':6}  moves / on", file=out)
    for name, value in metrics.items():
        unit, moves, on = MOVES[name]
        print(f"  {name:30} {value:12.4f} {unit:6}  {moves} / {on}", file=out)
    print("tracing overhead (traced minus untraced operations):", file=out)
    for name, value in overhead.items():
        print(f"  {name:30} {value:+12.3f} ms", file=out)
    digests = dump.get("digests") or {}
    if digests:
        print("plan digests (canonical physical plans per request body):", file=out)
        for body, digest in sorted(digests.items()):
            print(f"  {digest}  {body}", file=out)
