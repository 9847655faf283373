"""The repository's benchmark: the live seqspark server under two
closed-loop workloads, timed at the client, with every answer checked.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Run from the root of a source tree. Each run starts the server the way
the CLI does (``python -m seqspark``, ``local[nproc]``), builds a seeded
store through ``/_bulk``, runs a fixed number of the workload's own
operations untimed so the window misses the steepest part of the JVM's
warm-up, and then drives the server from this one process for
``--seconds``. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` starts the
server through ``perfbench/traced_server.py`` instead and switches span
recording on and off between rounds or cycles of the window. It reports
the per-layer metrics of the traced ones, and prints a table on
standard error with the tracing overhead (traced minus untraced
operations) and the plan digests.

Workloads (see BENCHMARK.json for why each exists):
  dashboard  one client replaying 8 fixed HTTP bodies (the six k6
             shapes) in seeded order; the server runs without an index.
             Its bulk metrics come from small bulks shipped after the
             window
  ingest     one client in a fixed cycle: a 250-doc bulk, a wait until
             the maintenance it set off is done, then four never-repeated
             ad-hoc reads over the newest hours, HTTP and gRPC in turn;
             the server runs with --index-dir and compacts a bucket once
             it holds two files
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import signal
import sys
import time
from typing import Dict, List, Optional

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import corpus  # noqa: E402
import layers  # noqa: E402
from client import Client, Op  # noqa: E402
from serverproc import Server, calibration_ms, host_record, steal_ticks  # noqa: E402
from stats import percentile  # noqa: E402

#: dashboard store: HOURS hour buckets of PER_HOUR docs, loaded in time
#: order by STORE_BULKS bulks, so no compaction runs on it and the write
#: path has run before the side bulks. The last SIDE_BULKS hours are held
#: back and shipped after the window, one bulk per hour; their costs are
#: its bulk metrics
HOURS = 14
PER_HOUR = 150
STORE_BULKS = 2
SIDE_BULKS = 6
#: ingest workload: cycles of one bulk of INGEST_BULK_DOCS, then
#: READS_PER_BULK reads (search and complex requests in turn) over the
#: newest hours. Two bulks fill each hour bucket after the corpus hours:
#: the second takes it past INGEST_MAX_FILES, so it is compacted. The
#: first cycles build the store
INGEST_BULK_DOCS = 250
READS_PER_BULK = 4
MAX_READS = 4000
INGEST_MAX_FILES = 1
#: ingest's maintenance period: compaction and index refresh start soon
#: after each bulk. After a bulk the client waits until the server has
#: been idle for QUIET_S, longer than that period, so that work runs
#: between the timed operations instead of under a random one of them;
#: it counts in server_cpu_ms_per_op
MAINTENANCE_PERIOD = "500ms"
QUIET_S = 0.7
#: untimed operations between the store build and the window: the JIT
#: compiles the hot paths of each workload's request shapes on these
WARM_OPS = {"dashboard": 16, "ingest": 10}
#: a traced window holds at least this many rounds or cycles, half of
#: them traced
TRACE_MIN_CYCLES = 4
#: serverproc.calibration_ms on an unloaded 4-core host of the kind the
#: benchmark was tuned on. The gated times are scaled by this over the
#: calibration read next to them: CPU per request on a shared host moved
#: up to twofold within minutes as neighbours came and went, and the
#: calibration loop moved with it
REF_CALIBRATION_MS = 13.5

WORKLOADS = ("dashboard", "ingest")


class Failed(Exception):
    """The run cannot produce a result (the server failed to start, or
    the tree holds no seqspark package)."""


# ------------------------------------------------------------------ server


def server_cmd(workload: str, work: str, traced: bool) -> List[str]:
    entry = ([sys.executable, os.path.join(HERE, "traced_server.py")]
             if traced else [sys.executable, "-m", "seqspark"])
    args = [
        "--data-dir", os.path.join(work, "store"),
        "--mapping", os.path.join(work, "mapping.yaml"),
        "--spark-master", f"local[{os.cpu_count() or 1}]",
        "--use-seq-ql-by-default",
        # the corpus is dated 2024: keep its stamps instead of clamping
        "--allowed-time-drift", "100000d",
        "--future-allowed-time-drift", "100000d",
        "--addr", "127.0.0.1:0",
        "--proxy-grpc-addr", "127.0.0.1:0",
    ]
    if workload != "dashboard":
        args += ["--index-dir", os.path.join(work, "index"),
                 "--max-files-per-partition", str(INGEST_MAX_FILES),
                 "--maintenance-period", MAINTENANCE_PERIOD]
    return entry + args


def server_env(work: str, trace_out: Optional[str], digests: bool) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # -Xms1g: the heap starts at its 1 GiB default maximum; grown from the
    # JVM's small initial heap instead, GC pressure halves throughput for
    # the first minutes. TieredStopAtLevel=1: the C1 compiler only. C2
    # compiles Spark's hot paths for minutes after start and takes half
    # the server's CPU while it does; a window inside those minutes would
    # time the compiler, and where it sits on that curve
    submit = ["--driver-java-options",
              "'-Xms1g -XX:TieredStopAtLevel=1'"]
    if trace_out is not None:
        # keep every job and stage of the run for the REST read at exit
        submit += ["--conf", "spark.ui.retainedJobs=1000000",
                   "--conf", "spark.ui.retainedStages=1000000"]
    env.update({
        "PYTHONPATH": ROOT,
        "PYTHONUNBUFFERED": "1",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
    })
    if trace_out is not None:
        env["PERFBENCH_TRACE_OUT"] = trace_out
        if digests:
            env["PERFBENCH_PLAN_DIGESTS"] = "1"
    return env


# --------------------------------------------------------------- workloads


class Run:
    """State of one benchmark run: inputs, the live server, and ops."""

    def __init__(self, workload: str, seed: int, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.work = work
        self.server: Optional[Server] = None
        self.client: Optional[Client] = None
        self.load_ops: List[Op] = []
        self.raw_bytes = 0
        self.store_ratio = 0.0
        self.setup_phases: Dict[str, float] = {}
        self._n = 0  # operations sent so far
        if workload == "dashboard":
            docs = corpus.make_corpus(seed, HOURS, PER_HOUR)
            #: the docs the store holds during the window, one list per hour
            self.hours = [docs[h * PER_HOUR:(h + 1) * PER_HOUR]
                          for h in range(HOURS)]
            self.served = [d for h in self.hours[:HOURS - SIDE_BULKS] for d in h]
            self.fixed = corpus.dashboard_requests(HOURS)
            self._order = random.Random(f"dashboard-order-{seed}")
            self._round: List[int] = []
        else:
            self.served = []
            self.stream = corpus.IngestStream(seed, HOURS, INGEST_BULK_DOCS)
            self.searches = corpus.adhoc_requests(seed, MAX_READS)
            #: docs of the bulks acked so far, in shipping order
            self.acked: List[List[corpus.Doc]] = []
            self._bulks = 0  # bulks sent
            self._search_i = 0

    # -- set-up

    def setup(self) -> List[Op]:
        """Start the server, build the store, run the warm-up ops; the
        phase times land in ``setup_phases``, with the median calibration
        read before the start and after each warm-up op."""
        before = [calibration_ms() for _ in range(5)]
        t0 = time.perf_counter()
        shutil.rmtree(os.path.join(self.work, "store"), ignore_errors=True)
        shutil.rmtree(os.path.join(self.work, "index"), ignore_errors=True)
        with open(os.path.join(self.work, "mapping.yaml"), "w") as f:
            f.write(corpus.MAPPING_YAML)
        self.trace_out = (os.path.join(self.work, "spans.json")
                          if self.trace else None)
        self.server = Server(
            server_cmd(self.workload, self.work, self.trace),
            cwd=self.work,
            env=server_env(self.work, self.trace_out,
                           self.workload == "dashboard"),
            log_path=os.path.join(self.work, "server.log"),
        )
        self.client = Client(self.server.http_port, self.server.grpc_port)
        t_ready = time.perf_counter()
        if self.workload == "dashboard":
            per_bulk = -(-len(self.served) // STORE_BULKS)
            for i in range(0, len(self.served), per_bulk):
                self._must(self._load(self.served[i:i + per_bulk]))
        t_loaded = time.perf_counter()
        warm = [self.next_op() for _ in range(WARM_OPS[self.workload])]
        t_end = time.perf_counter()
        self.setup_phases = {
            "start_s": t_ready - t0, "load_s": t_loaded - t_ready,
            "warm_s": t_end - t_loaded, "total_s": t_end - t0,
            "calibration_ms": percentile(
                before + [op.ctx["calibration_ms"] for op in warm], 50)}
        return warm

    def _load(self, docs: List[corpus.Doc]) -> Op:
        op = self.client.bulk(corpus.bulk_body(docs))
        op.ctx["docs"] = len(docs)
        if not op.error:
            self.raw_bytes += sum(len(d.line) for d in docs)
        return op

    def _must(self, op: Op) -> None:
        if op.error:
            raise Failed(f"store build {op.kind} failed: {op.error}")

    def side_bulks(self) -> None:
        """dashboard ships the hours it held back as bulks after the
        window, which time its bulk metrics on a warm JVM. Each starts on
        an idle server, as ingest's bulks do: sent back to back, a bulk
        shared the CPU with the clean-up after the one before."""
        for docs in self.hours[HOURS - SIDE_BULKS:]:
            self.server.wait_idle(QUIET_S)
            cpu0 = self.server.cpu_s()
            op = self._load(docs)
            op.cpu_ms = 1000.0 * (self.server.cpu_s() - cpu0)
            op.ctx["calibration_ms"] = calibration_ms()
            self.load_ops.append(op)

    # -- operations

    def next_op(self) -> Op:
        """Send the workload's next operation and wait for its answer.
        The server's CPU time is read around it: with one operation in
        flight at a time it is the operation's cost, plus whatever the
        maintenance loop ran meanwhile."""
        cpu0 = self.server.cpu_s()
        op = self._next_op()
        op.cpu_ms = 1000.0 * (self.server.cpu_s() - cpu0)
        if op.kind == "bulk" and self.workload == "ingest":
            self.server.wait_idle(QUIET_S)
        # read with the server idle, so the loop competes with no request
        op.ctx["calibration_ms"] = calibration_ms()
        return op

    def _next_op(self) -> Op:
        i = self._n
        self._n += 1
        if self.workload == "dashboard":
            # whole seeded rounds of the 8 bodies
            if not self._round:
                self._round = list(range(len(self.fixed)))
                self._order.shuffle(self._round)
            shape = self._round.pop()
            op = self.client.send(self.fixed[shape])
            op.ctx["shape"] = shape
        elif i % (READS_PER_BULK + 1) == 0:
            op = self._ship()
        else:
            req = corpus.anchored(self.searches[self._search_i],
                                  self.stream.hour_ms(self._bulks - 1))
            op = self.client.send(req)
            self._search_i += 1
            op.ctx["acked"] = len(self.acked)
        if self.workload == "ingest":
            # whether the cycle's bulk opened or completed its hour (only
            # a completing bulk sets off a compaction), and the place in
            # the cycle (the first read rebuilds the table memo)
            op.ctx["shape"] = ((self._bulks - 1) % 2, i % (READS_PER_BULK + 1))
        return op

    def _ship(self) -> Op:
        docs = self.stream.docs(self._bulks)
        self._bulks += 1
        op = self._load(docs)
        if not op.error:
            self.acked.append(docs)
        return op

    # -- answers

    def check(self, ops: List[Op]) -> None:
        """Fill ``op.wrong`` for every answer that is not the right one.
        The ingest client waits for each bulk's ack before its next read,
        so every read must see exactly the bulks acked before it."""
        expected: Dict[tuple, dict] = {}
        for op in ops:
            if op.error is not None or op.kind == "bulk":
                continue
            req = op.req
            if self.workload == "dashboard":
                key = (req.key(),)
                docs = self.served
            else:
                key = (req.key(), op.ctx["acked"])
                docs = [d for bulk in self.acked[:op.ctx["acked"]] for d in bulk
                        if req.from_ms <= d.ms <= req.to_ms]
            if key not in expected:
                expected[key] = corpus.expected(req, docs)
            op.wrong = corpus.check(req, op.answer, expected[key])

    # -- teardown

    def stop(self) -> None:
        if self.client is not None:
            self.client.close()
            self.client = None
        if self.server is not None:
            # only the traced server has work to do at exit: its spans
            self.server.stop(graceful=self.trace)

    def store_bytes(self) -> int:
        total = 0
        for dirpath, _dirs, files in os.walk(os.path.join(self.work, "store")):
            for name in files:
                try:
                    total += os.path.getsize(os.path.join(dirpath, name))
                except FileNotFoundError:  # swapped out by a compaction
                    pass
        return total

    def settled_store_bytes(self, poll_s: float = 0.5, limit_s: float = 15.0) -> int:
        """Store bytes once the maintenance loop has compacted what it
        will (two equal readings ``poll_s`` apart, every bucket down to
        the files it may keep): a reading while small files wait for
        compaction lands anywhere on their sawtooth."""
        deadline = time.perf_counter() + limit_s
        last = self.store_bytes()
        while time.perf_counter() < deadline:
            time.sleep(poll_s)
            now = self.store_bytes()
            if now == last and (self.workload == "dashboard"
                                or self.files_per_bucket() <= INGEST_MAX_FILES):
                break
            last = now
        return last

    def files_per_bucket(self) -> float:
        store = os.path.join(self.work, "store")
        counts = [
            sum(1 for f in os.listdir(os.path.join(store, b))
                if f.endswith(".parquet"))
            for b in os.listdir(store) if b.startswith("ts_bucket=")
        ]
        return sum(counts) / len(counts) if counts else 0.0


def window(run: Run, seconds: float, rec: Optional["Recording"] = None) -> dict:
    """Closed loop for ``seconds``, then to the end of the round
    (dashboard) or the hour's pair of cycles (ingest) in progress, so
    every window holds the same mix of operations; returns ops, wall and
    server CPU. With ``rec``, the window lasts at least TRACE_MIN_CYCLES
    rounds or cycles, recording is on for the second and third of every
    four, and each op is marked ``traced`` by the state it was sent in:
    traced and untraced cycles interleave, and on ``ingest`` both kinds
    of cycle are in each."""
    cycle = len(run.fixed) if run.workload == "dashboard" else READS_PER_BULK + 1
    whole = cycle if run.workload == "dashboard" else 2 * cycle
    cpu0 = run.server.cpu_s()
    steal0 = steal_ticks()
    t0 = time.perf_counter()
    epoch0 = time.time()
    deadline = t0 + seconds
    ops: List[Op] = []
    while (len(ops) % whole or time.perf_counter() < deadline
           or (rec is not None and len(ops) < TRACE_MIN_CYCLES * cycle)):
        if rec is not None and len(ops) % cycle == 0:
            rec.record(len(ops) // cycle % 4 in (1, 2))
        op = run.next_op()
        if rec is not None:
            op.ctx["traced"] = rec.on
        ops.append(op)
    wall = time.perf_counter() - t0
    return {"ops": ops, "wall": wall, "epoch0": epoch0,
            "epoch1": epoch0 + wall,
            "cpu_s": run.server.cpu_s() - cpu0,
            "steal_s": (steal_ticks() - steal0) / os.sysconf("SC_CLK_TCK")}


class Recording:
    """Switches the traced server's span recording on and off and keeps
    when it did, so layer metrics can be read over the traced spans of
    time; the latency and CPU difference between traced and untraced
    operations is the tracing overhead."""

    def __init__(self, server: Server, trace_out: str):
        self.server = server
        self.trace_out = trace_out
        self.on = True
        self.marks: List[tuple] = []  # (epoch at ack, recording on)
        self.record(False)

    def record(self, on: bool) -> None:
        if on == self.on:
            return
        self.server.signal(signal.SIGUSR2 if on else signal.SIGUSR1)
        layers.wait_state(self.trace_out, "on" if on else "off")
        self.on = on
        self.marks.append((time.time(), on))

    def on_intervals(self, end: float) -> List[tuple]:
        """(start, end) epoch-ns intervals with recording on."""
        out = []
        for (t, on), nxt in zip(self.marks, self.marks[1:] + [(end, None)]):
            if on:
                out.append((int(t * 1e9), int(nxt[0] * 1e9)))
        return out


# ----------------------------------------------------------------- metrics


def _by_shape(ops: List[Op], kind: str, value) -> Optional[float]:
    """The median of ``value(op)`` over each request shape of ``kind``,
    combined by geometric mean: each dashboard body, and each kind of
    ingest cycle and place in it, weighs the same however many of it a
    window held, so the figure does not jump between the modes of a
    mixed sample."""
    groups: Dict[object, List[float]] = {}
    for op in ops:
        if op.kind == kind and not op.failed:
            groups.setdefault(op.ctx.get("shape"), []).append(value(op))
    if not groups:
        return None
    logs = [math.log(max(1e-3, percentile(v, 50))) for v in groups.values()]
    return math.exp(sum(logs) / len(logs))


def scaled(ms: float, calibration: float) -> float:
    """``ms`` at the host speed of REF_CALIBRATION_MS."""
    return ms * REF_CALIBRATION_MS / calibration


def latency_metrics(ops: List[Op]) -> Dict[str, float]:
    """Client latency and server CPU of each operation kind in ``ops``;
    ``*_cpu_ms`` scales each operation's CPU by the calibration read
    right after it, ``*_cpu_raw_ms`` does not."""
    out: Dict[str, float] = {}
    for kind in ("search", "complex", "bulk"):
        lat = [op.latency_ms for op in ops if op.kind == kind and not op.failed]
        if not lat:
            continue
        out[f"{kind}_p50_ms"] = _by_shape(ops, kind, lambda op: op.latency_ms)
        out[f"{kind}_p95_ms"] = percentile(lat, 95)
        out[f"{kind}_cpu_ms"] = _by_shape(
            ops, kind, lambda op: scaled(op.cpu_ms, op.ctx["calibration_ms"]))
        out[f"{kind}_cpu_raw_ms"] = _by_shape(ops, kind, lambda op: op.cpu_ms)
    return out


def e2e_metrics(run: Run, win: dict) -> Dict[str, float]:
    """Every metric of the run; ``GATED`` picks the end-to-end ones. A
    workload without bulks in its window reports the side bulks it
    shipped after the window."""
    ops = win["ops"]
    done = [op for op in ops if not op.failed]
    phases = run.setup_phases
    m = {"setup_s": scaled(phases["total_s"], phases["calibration_ms"]),
         "setup_raw_s": phases["total_s"]}
    m.update(latency_metrics(ops if any(op.kind == "bulk" for op in ops)
                             else ops + run.load_ops))
    missing = [f"{k}_cpu_ms" for k in ("search", "complex", "bulk")
               if f"{k}_cpu_ms" not in m]
    if missing:
        raise Failed(f"no successful op for {', '.join(missing)}")
    # acked docs over the time spent posting them, free of the window's
    # whole-bulk rounding
    bulks = ([op for op in done if op.kind == "bulk"]
             or [op for op in run.load_ops if not op.failed])
    m["ingest_docs_per_s"] = (sum(op.ctx["docs"] for op in bulks)
                              / sum(op.latency_ms / 1000 for op in bulks))
    m["ops_per_s"] = len(done) / win["wall"]
    m["server_cpu_raw_ms_per_op"] = 1000.0 * win["cpu_s"] / max(1, len(done))
    m["server_cpu_ms_per_op"] = scaled(
        m["server_cpu_raw_ms_per_op"],
        percentile([op.ctx["calibration_ms"] for op in ops], 50))
    m["server_rss_mb"] = run.server.peak_rss_mb()
    m["store_bytes_per_doc_byte"] = run.store_ratio
    return m


#: the end-to-end metrics of BENCHMARK.json; the others are printed on
#: standard error. Wall-clock latencies and rates are not gated: on a
#: shared host whose CPU steal swings between none and half the cores
#: within minutes, they moved up to twofold between runs of the same
#: code, and time spent waiting for a descheduled core does not scale
#: with the calibration loop. bulk_cpu_ms is not gated either: over the
#: six side bulks of a dashboard run it spread 0.18-0.27 (quartile
#: distance over the median of ten runs)
GATED = ("setup_s", "search_cpu_ms", "complex_cpu_ms", "server_cpu_ms_per_op",
         "server_rss_mb", "store_bytes_per_doc_byte")


def unit_of(name: str) -> str:
    if name.endswith("_ms") or name.endswith("ms_per_op"):
        return "ms"
    return {"setup_s": "s", "server_rss_mb": "MiB",
            "store_bytes_per_doc_byte": "ratio"}.get(name, "count")


# -------------------------------------------------------------------- main


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    if not os.path.isfile(os.path.join(ROOT, "seqspark", "__main__.py")):
        raise Failed(f"no seqspark package under {ROOT}")
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = Run(workload, seed, trace, work)
    host0 = host_record()
    try:
        warm = run.setup()
        # the store's size is read where its volume is fixed: at the end
        # of an ingest window it holds as many bulks as the client got
        # through, and bigger files compress better, so the ratio would
        # follow the throughput
        if workload == "ingest":
            run.store_ratio = run.settled_store_bytes() / run.raw_bytes
        if trace:
            rec = Recording(run.server, run.trace_out)
            win = window(run, seconds, rec)
            rec.record(True)  # the side bulks are traced
        else:
            win = window(run, seconds)
        run.check(warm + win["ops"])
        side_ns = (time.time_ns(), 0)
        if workload == "dashboard":
            run.side_bulks()
        side_ns = (side_ns[0], time.time_ns())
        if workload == "dashboard":
            run.store_ratio = run.settled_store_bytes() / run.raw_bytes
        if not trace:
            all_metrics = e2e_metrics(run, win)
        files_per_bucket = run.files_per_bucket()
    finally:
        run.stop()
    ops = win["ops"]
    checked = warm + ops + run.load_ops
    attempted = len(checked)
    failed = sum(op.failed for op in checked)
    bad = [op for op in checked if op.failed][:5]
    for op in bad:
        print(f"failed {op.kind}/{op.transport}: {op.error or op.wrong}",
              file=sys.stderr)
    tails = {f"{kind}_n": sum(op.kind == kind and not op.failed for op in ops)
             for kind in ("search", "complex", "bulk")}
    host = {"host_start": host0, "host_end": host_record(), "tails": tails,
            "window_steal_s": win["steal_s"], "setup_phases": run.setup_phases,
            "ops": attempted, "failed_ops_ratio": failed / max(1, attempted)}
    if not trace:
        out_metrics = {k: all_metrics[k] for k in GATED}
        host["not_gated"] = {k: v for k, v in all_metrics.items() if k not in GATED}
    else:
        dump = layers.load_dump(run.trace_out)
        traced = [op for op in ops if op.ctx["traced"]]
        plain = [op for op in ops if not op.ctx["traced"]]
        intervals = rec.on_intervals(win["epoch1"])
        out_metrics = layers.per_layer(
            dump, traced, intervals,
            [side_ns] if run.load_ops else intervals, files_per_bucket)
        on, off = latency_metrics(traced), latency_metrics(plain)
        overhead = {k: on[k] - off[k] for k in on if k in off}
        layers.print_table(workload, out_metrics, overhead, dump, sys.stderr)
    print(json.dumps({"workload": workload, "seed": seed, **host}), file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": layers.UNITS.get(k) or unit_of(k)}
                    for k, v in out_metrics.items()},
    }


def main(argv: Optional[List[str]] = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=WORKLOADS, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    # a stop request unwinds through run_benchmark, which stops the server
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    try:
        result = run_benchmark(a.workload, a.seed, a.seconds, bool(a.trace))
    except Failed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
