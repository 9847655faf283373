"""The manifest-backed store: a snapshot names its files, maintenance
never deletes a file a held snapshot reads, every request path releases
what it holds, and another process's append is seen by the next
request."""

import dataclasses
import json
import os
import signal
import subprocess
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

from seqspark import Mapping, SearchTable
from seqspark.index import StoreIndex
from seqspark.ingest import ingest_docs
from seqspark.server import SeqSparkServer
from seqspark.store import DocStore

MAPPING = Mapping({"service": "keyword", "message": "text"})
BIG = 10**15
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _doc(hour, i, msg="needle"):
    return {"timestamp": f"2024-01-01 {hour:02d}:{i // 60:02d}:{i % 60:02d}.000",
            "service": "auth", "message": f"{msg} m{hour}x{i}"}


def _frame(spark, docs):
    return ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG)


def _parquet(root):
    """Every parquet file under ``root``, relative to it."""
    out = set()
    for d, _, files in os.walk(root):
        out |= {os.path.relpath(os.path.join(d, f), root)
                for f in files if f.endswith(".parquet")}
    return out


def _named(store):
    """The files the newest manifest of ``store`` (or an index) lists."""
    m = store.manifest()
    return {f"ts_bucket={b}/{n}" for b, names in m.buckets.items()
            for n in names}


def _server(spark, tmp_path, store, **kw):
    return SeqSparkServer(spark, store, MAPPING, allowed_drift_ms=BIG,
                          future_drift_ms=BIG,
                          async_dir=str(tmp_path / "async"), **kw)


def _two_bucket_store(spark, tmp_path, files_per_bucket=2, docs=3):
    store = DocStore(spark, str(tmp_path / "store"))
    for k in range(files_per_bucket):
        store.append(_frame(spark, [_doc(h, k * docs + i)
                                    for h in (10, 11) for i in range(docs)]))
    return store


def test_pinned_snapshot_survives_maintenance(spark, tmp_path):
    """Pin a store snapshot and an index version, start an export, then
    run compaction, retention and index refresh to completion: the
    pinned frames and the export read exactly the rows they listed, the
    superseded files stay on disk while held and are gone once
    released."""
    store = _two_bucket_store(spark, tmp_path)
    idx = StoreIndex(store, str(tmp_path / "index"),
                     {"message": F.col("tokens")["message"]})
    idx.refresh()
    # no width rule: the semi-join serves these narrow docs
    core = _server(spark, tmp_path, store, index=idx,
                   two_phase_min_doc_bytes=None)
    cols = ("mid", "rid", "raw")
    rows = sorted(store.read().select(*cols).collect())
    postings = sorted(idx.read().collect())
    export = list(core.export_docs({"query": "*", "order": "asc"}))
    before = _parquet(store.path) | {
        f"index/{p}" for p in _parquet(idx.path)}

    snap, (pinned, release) = store.snapshot(), idx.pin()
    frame, postings_frame = snap.read(), idx.frame(pinned)
    stats = idx.load_stats(pinned)
    drain = core.export_docs({"query": "*", "order": "asc"})
    first = next(drain)
    assert core._table(snap)._index is not None  # the export routes too
    assert store.maintain(max_files_per_partition=1) == store.partitions()
    oldest, newest = store.partitions()
    assert store.retain(min_bucket=newest) == [oldest]
    assert idx.refresh_stale() == [newest]
    assert idx.manifest().buckets.keys() == {newest}

    on_disk = _parquet(store.path) | {f"index/{p}" for p in _parquet(idx.path)}
    assert before <= on_disk  # nothing a held version lists is gone
    assert sorted(frame.select(*cols).collect()) == rows
    assert sorted(postings_frame.collect()) == postings
    assert [first] + list(drain) == export
    assert idx.load_stats(pinned) == stats  # the rebuild wrote its own
    assert idx.load_stats().total_docs < stats.total_docs
    snap.release()
    release()
    assert sorted(f for f in os.listdir(os.path.join(idx.path, "_stats"))
                  if not f.startswith(".")) == sorted(
        idx.manifest().stats.values())
    assert _parquet(store.path) == _named(store)
    assert _parquet(idx.path) == _named(idx)
    assert not before & (_parquet(store.path) | {
        f"index/{p}" for p in _parquet(idx.path)})
    assert os.listdir(os.path.join(store.path, "_manifest")) == [
        f"{store.manifest().version}.json"]
    out = core.search({"query": "message:needle", "size": 100,
                       "with_total": True})
    assert out["total"] == len(rows) // 2 == len(out["docs"])
    core._httpd.server_close()


_CHILD = """
import json, os, sys, time
sys.path.insert(0, {root!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[1]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "1")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
from seqspark import Mapping
from seqspark.ingest import ingest_docs
from seqspark.store import DocStore, _Log
docs, pause = {docs!r}, {pause!r}
commit = _Log.commit


def paused(log, change):
    # the files are in their buckets, uncommitted: wait for the go
    open(os.path.join(pause, "placed"), "w").close()
    while not os.path.exists(os.path.join(pause, "go")):
        time.sleep(0.05)
    return commit(log, change)


_Log.commit = paused
frame = ingest_docs(
    spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string"),
    Mapping({{"service": "keyword", "message": "text"}}),
    allowed_drift_ms=10**15, future_drift_ms=10**15)
DocStore(spark, {path!r}).append(frame)
spark.stop()
"""


def _wait_for(path, deadline_s=600):
    deadline = time.time() + deadline_s
    while not os.path.exists(path) and time.time() < deadline:
        time.sleep(0.05)
    return os.path.exists(path)


@pytest.mark.parametrize("end", ["commit", "kill"])
def test_second_process_append_is_seen(spark, tmp_path, end):
    """Another OS process appends to the store the server serves. While
    its files sit in their buckets uncommitted, the server's first
    maintenance pass (the sweep and a compaction of every bucket) and an
    index refresh run: the sweep leaves the writer in flight alone.

    ``commit``: the writer's commit then lands on top of the compacted
    versions. The server's next /search returns those docs, and index
    routing is disarmed until the index is refreshed.

    ``kill``: the writer is SIGKILLed before its commit. The kernel drops
    its flock on ``_staging/``, the server still answers with exactly the
    committed docs, and the next maintenance pass sweeps the files the
    killed writer placed and staged."""
    store = _two_bucket_store(spark, tmp_path, files_per_bucket=1)
    idx = StoreIndex(store, str(tmp_path / "index"),
                     {"message": F.col("tokens")["message"]})
    core = _server(spark, tmp_path, store, index=idx,
                   two_phase_min_doc_bytes=None)
    assert core.refresh_index() is True
    req = {"query": "message:needle", "size": 100, "with_total": True}
    assert core.search(req)["total"] == 6
    assert core._table()._index is not None
    docs = [_doc(11, 30 + i) for i in range(2)] + [_doc(12, 0)]
    pause = str(tmp_path / "pause")
    os.makedirs(pause)
    child = subprocess.Popen(
        [sys.executable, "-c", _CHILD.format(root=ROOT, docs=docs,
                                             path=store.path, pause=pause)])
    staging = os.path.join(store.path, "_staging")
    try:
        assert _wait_for(os.path.join(pause, "placed"))
        placed = _parquet(store.path) - _named(store)
        assert len(placed) == 2  # one file in each of two buckets
        staged = os.listdir(staging)
        assert staged
        assert store.maintain(max_files_per_partition=0) == store.partitions()
        assert placed <= _parquet(store.path)
        assert set(staged) <= set(os.listdir(staging))
        assert core.refresh_index() is True
        assert core.search(req)["total"] == 6
        if end == "kill":
            child.send_signal(signal.SIGKILL)
            assert child.wait(timeout=60) == -signal.SIGKILL
        else:
            open(os.path.join(pause, "go"), "w").close()
            assert child.wait(timeout=600) == 0
    finally:
        child.kill()
    total = 9 if end == "commit" else 6
    assert (placed <= _named(store)) == (end == "commit")
    assert core.search(req)["total"] == total
    store.maintain(max_files_per_partition=10**6)  # the sweep runs now
    assert os.listdir(staging) == []
    assert _parquet(store.path) == _named(store)
    out = core.search(req)
    assert out["total"] == total and len(out["docs"]) == total
    if end == "commit":
        assert core._table()._index is None  # disarmed: stale buckets
        assert idx.stale_buckets() == ["2024-01-01-11", "2024-01-01-12"]
        assert core.refresh_index() is True
        assert core.search(req)["total"] == 9
    assert core._table()._index is not None
    core._httpd.server_close()


def test_sweep_waits_for_writes_in_flight(spark, tmp_path):
    """A write in flight (even in the sweeping process) holds
    ``_staging/``: the sweep then deletes nothing and is left to the next
    pass, which removes the unnamed files and staged leftovers."""
    import shutil

    store = _two_bucket_store(spark, tmp_path, files_per_bucket=1)
    bdir = os.path.join(store.path, f"ts_bucket={store.partitions()[0]}")
    live = sorted(f for f in os.listdir(bdir) if f.endswith(".parquet"))
    staged = os.path.join(store.path, "_staging", "crashed")
    os.makedirs(staged)
    placed = os.path.join(bdir, "part-placed.parquet")
    shutil.copy(os.path.join(bdir, live[0]), placed)
    with store._fs.staging():
        store._log.sweep()
        assert os.path.exists(placed) and os.path.exists(staged)
    store._log.sweep()
    assert os.listdir(os.path.join(store.path, "_staging")) == []
    assert sorted(f for f in os.listdir(bdir) if f.endswith(".parquet")) == live
    assert store.read().count() == 6


def _post(core, path, body):
    import urllib.error
    import urllib.request

    req = urllib.request.Request(
        f"http://127.0.0.1:{core.port}{path}",
        data=json.dumps(body).encode())
    try:
        with urllib.request.urlopen(req, timeout=120) as r:
            return r.status
    except urllib.error.HTTPError as e:
        return e.code


def _released(store, deadline_s=30):
    deadline = time.time() + deadline_s
    while store._log.holds and time.time() < deadline:
        time.sleep(0.05)
    return store._log.holds == {}


def test_every_exit_path_releases_its_snapshot(spark, tmp_path,
                                               monkeypatch):
    """A 400 on a bad query, TooManyFractionsHit, a handler exception, a
    cancelled gRPC export and an HTTP export abandoned mid-stream each
    release the request's snapshot: the next maintenance pass leaves
    every compacted bucket holding only its committed files."""
    import struct

    from seqspark import SearchTable
    from seqspark.grpcapi import SeqProxyGrpc
    from seqspark.wire import seqproxy as sp
    from seqspark.wire.grpc import GrpcChannel
    from seqspark.wire.h2 import RST_STREAM, pack_frame

    wide = "x" * 1024  # 60 wide docs outgrow one 16 KiB h2 frame
    store = _two_bucket_store(spark, tmp_path, docs=30)
    store.append(_frame(spark, [_doc(h, 90 + i, f"needle {wide}")
                                for h in (10, 11) for i in range(30)]))
    core = _server(spark, tmp_path, store, max_fraction_hits=1).start()
    window = {"from_ms": 1704103200000, "to_ms": 1704105000000}  # hour 10
    try:
        assert _post(core, "/search", {"query": "service:((", **window}) == 400
        assert _released(store)
        assert _post(core, "/search", {"query": "*"}) == 400  # 2 buckets > 1
        assert _released(store)
        with monkeypatch.context() as m:
            m.setattr(SearchTable, "complex_search",
                      lambda *a, **k: 1 / 0)
            assert _post(core, "/search", {"query": "*", **window}) == 400
        assert _released(store)

        lines = core.export_lines({"query": "*", "order": "asc", **window})
        next(lines)
        assert store._log.holds
        lines.close()  # the client went away mid-stream
        assert _released(store, 0)

        # gRPC: the client resets the stream while the drain is parked
        # after its first row; the server's next frame write fails
        yielded, parked, resume = [], threading.Event(), threading.Event()
        export = core.export_docs

        def parked_export(req):
            rows = export(req)

            def gen():
                try:
                    for r in rows:
                        yielded.append(r)
                        if len(yielded) == 1:
                            parked.set()
                            resume.wait(60)
                        yield r
                finally:
                    rows.close()
            return gen()

        monkeypatch.setattr(core, "export_docs", parked_export)
        g = SeqProxyGrpc(core).start()
        ch = GrpcChannel("127.0.0.1", g.port)
        try:
            st = ch._call("/seqproxyapi.v1.SeqProxyApi/Export", {
                "query": {"query": "*",
                          "from": sp.ms_to_ts(window["from_ms"]),
                          "to": sp.ms_to_ts(window["to_ms"])}},
                sp.EXPORT_REQUEST)
            assert parked.wait(120)
            (sid,) = [s for s, v in ch._client._streams.items() if v is st]
            ch._client._write(pack_frame(RST_STREAM, 0, sid,
                                         struct.pack(">I", 8)))  # CANCEL
            time.sleep(0.5)  # the server's frame loop reads the reset
            resume.set()
            assert _released(store)
            assert len(yielded) < 90  # cancelled, not drained
        finally:
            ch.close()
            g.stop()
        monkeypatch.undo()

        assert store.maintain(max_files_per_partition=1)
        for b in store.partitions():
            on_disk = {f for f in os.listdir(
                os.path.join(store.path, f"ts_bucket={b}"))
                if f.endswith(".parquet")}
            assert on_disk == set(store.manifest().buckets[b])
            assert len(on_disk) == 1
    finally:
        core.stop()


def test_commit_race_reapplies_onto_the_winner(spark, tmp_path,
                                               monkeypatch):
    """Two writers racing for one version: the loser's create-if-absent
    fails, and its change is re-applied onto the winner's version, so
    neither append is lost."""
    from seqspark.store import MANIFEST_DIR, _HadoopFS

    store = _two_bucket_store(spark, tmp_path, files_per_bucket=1)
    real = _HadoopFS.create_new
    raced = []

    def racing(fs, p, text):
        if not raced and p.getParent().getName() == MANIFEST_DIR:
            # another writer commits this version first, from the same
            # base, with a bucket of its own
            raced.append(p.getName())
            won = dataclasses.asdict(store._log.newest)
            won["version"] += 1
            won["buckets"]["2024-01-01-09"] = {}
            assert real(fs, p, json.dumps(won))
            return False
        return real(fs, p, text)

    monkeypatch.setattr(_HadoopFS, "create_new", racing)
    v0 = store.manifest().version
    store.append(_frame(spark, [_doc(12, 0)]))
    assert raced == [f"{v0 + 1}.json"]
    m = store.manifest()
    assert m.version == v0 + 2
    assert {"2024-01-01-09", "2024-01-01-12"} <= set(m.buckets)
    assert store.read().count() == 7


def test_legacy_store_becomes_version_0(spark, tmp_path):
    """A store written before manifests (bucket directories and a hot
    tier's tombstone file) is listed once and committed as version 0."""
    path = str(tmp_path / "legacy")
    _frame(spark, [_doc(h, i) for h in (10, 11) for i in range(3)]) \
        .withColumn("ts_bucket", F.date_format("ts", "yyyy-MM-dd-HH")) \
        .write.partitionBy("ts_bucket").parquet(path)
    with open(os.path.join(path, "_rotated_buckets.json"), "w") as f:
        f.write('["2024-01-01-09"]')
    store = DocStore(spark, path)
    m = store.manifest()
    assert m.version == 0 and m.rotated == ["2024-01-01-09"]
    assert {b: m.rows(b) for b in m.buckets} == {
        "2024-01-01-10": 3, "2024-01-01-11": 3}
    assert not os.path.exists(os.path.join(path, "_rotated_buckets.json"))
    assert store.read().count() == 6
    store.append(_frame(spark, [_doc(12, 0)]))
    assert store.manifest().version == 1 and store.read().count() == 7


def test_concurrent_snapshots_under_maintenance(spark, tmp_path):
    """More reader threads than cores pin, read and release snapshots
    while a writer appends and compacts: every read counts exactly the
    rows its version lists (a lost hold would let maintenance delete a
    file under it), and once all are released the disk holds exactly the
    committed files."""
    store = _two_bucket_store(spark, tmp_path)
    errors, done = [], threading.Event()

    def reader():
        try:
            while not done.is_set():
                with store.snapshot() as snap:
                    m = snap.owners[snap.buckets[0]][1]
                    want = sum(m.rows(b) for b in snap.buckets)
                    assert snap.read().count() == want
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        for k in range(4):
            store.append(_frame(spark, [_doc(10, 40 + k), _doc(11, 40 + k)]))
            assert store.maintain(max_files_per_partition=1)
    finally:
        done.set()
        for t in threads:
            t.join(timeout=120)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and not errors, errors
    assert store._log.holds == {}
    assert _parquet(store.path) == _named(store)
    assert store.read().count() == 12 + 8


def test_width_is_the_manifest_width(spark, tmp_path):
    """A store-built table samples its doc width with the store's footer
    reader: over at most 16 files (so every one is sampled) it is the
    manifest's bytes over its rows."""
    store = _two_bucket_store(spark, tmp_path, files_per_bucket=3)
    entries = [e for files in store.manifest().buckets.values()
               for e in files.values()]
    assert 1 < len(entries) <= 16
    st = SearchTable.from_store(store, MAPPING)
    assert st.avg_doc_bytes() == (sum(b for b, _ in entries)
                                  / sum(r for _, r in entries))
