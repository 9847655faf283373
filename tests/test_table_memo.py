"""Store snapshots + the server's snapshot-keyed SearchTable memo: each
request takes one store snapshot (manifest version, bucket list,
cold-tier reachability) and the serving layer reuses one table across
requests with equal snapshot keys, rebuilding exactly when the store
changed — append, compact, retention, rotation, index arm/disarm,
cold-tier reachability. Freshness is the invariant: a bulk acked before
a request must be visible to it, and a response is partial exactly when
its own snapshot found the cold tier dark."""

import importlib
import inspect
import json
import os
import sys

import pytest
from pyspark.sql import functions as F

from seqspark import Mapping, SearchTable
from seqspark.ingest import ingest_docs
from seqspark.server import SeqSparkServer
from seqspark.store import DocStore, TieredStore

MAPPING = Mapping({"service": "keyword", "message": "text"})
BIG = 10**15


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def _docs_df(spark, rows):
    return ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in rows], "raw string"),
        MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )


def _doc(day, hour, service="auth", msg="hello world"):
    return {"timestamp": f"2024-01-0{day} {hour:02d}:00:00.000",
            "service": service, "message": msg}


def _key(store):
    with store.snapshot() as snap:
        return snap.key


def test_generation_bumps_on_every_mutation(spark, tmp):
    """The snapshot key is the manifest version: every mutation commits
    a new one."""
    store = DocStore(spark, os.path.join(tmp, "store"))
    g0 = _key(store)
    store.append(_docs_df(spark, [_doc(1, 1), _doc(1, 2)]))
    g1 = _key(store)
    assert g1 > g0
    # second append to the same bucket so compact has >1 file
    store.append(_docs_df(spark, [_doc(1, 1, "pay")]))
    g2 = _key(store)
    assert g2 > g1
    bucket = store.partitions()[0]
    store.compact(bucket)
    g3 = _key(store)
    assert g3 > g2
    store.retain(min_bucket="2024-01-01-02")
    g4 = _key(store)
    assert g4 > g3
    assert os.listdir(os.path.join(tmp, "store", "_manifest")) == [
        f"{g4[0]}.json"]  # superseded versions are deleted


def test_generation_is_shared_across_instances_on_one_path(spark, tmp):
    path = os.path.join(tmp, "store")
    a = DocStore(spark, path)
    b = DocStore(spark, path)
    before = _key(b)
    a.append(_docs_df(spark, [_doc(2, 3)]))
    # instance b observes instance a's append: the version is on disk
    # (another process's append moves it the same way)
    assert _key(b) > before


def test_tiered_generation_and_rotation(spark, tmp):
    """A tiered key moves with either tier's version; rotation records
    its tombstones in the same hot version that drops the buckets."""
    hot = DocStore(spark, os.path.join(tmp, "hot"))
    cold = DocStore(spark, os.path.join(tmp, "cold"))
    tiered = TieredStore(hot, cold)
    g0 = _key(tiered)
    tiered.append(_docs_df(spark, [_doc(1, h) for h in range(3)]))
    g1 = _key(tiered)
    assert g1[0][0] > g0[0][0] and g1[0][1] > g0[0][1]  # both tiers
    out = tiered.maintain(hot_min_bucket="2024-01-01-01")
    assert out["hot_dropped"] == ["2024-01-01-00"]
    g2 = _key(tiered)
    assert g2[0][0] == g1[0][0] + 1  # one version: drop + tombstone
    assert hot.manifest().rotated == ["2024-01-01-00"]
    with tiered.snapshot() as snap:
        assert snap.buckets == ("2024-01-01-00", "2024-01-01-01",
                                "2024-01-01-02")  # cold serves hour 0


def test_server_table_memo_hits_and_rebuilds(spark, tmp):
    store = DocStore(spark, os.path.join(tmp, "store"))
    core = SeqSparkServer(
        spark, store, MAPPING,
        allowed_drift_ms=BIG, future_drift_ms=BIG,
        async_dir=os.path.join(tmp, "async"),
    )
    t1 = core._table()
    t2 = core._table()
    assert t1 is t2  # unchanged store: the SAME prepared table serves
    # a bulk through the real ingest path invalidates the memo...
    body = ('{"index":{}}\n' + json.dumps(_doc(1, 5, "fresh")) + "\n").encode()
    core.bulk(body, gzipped=False)
    t3 = core._table()
    assert t3 is not t2
    # ...and the fresh doc is visible to the very next search
    out = core.search({"query": "service:fresh", "size": 10})
    assert len(out["docs"]) == 1
    # compaction through any instance over the path invalidates too
    store.append(_docs_df(spark, [_doc(1, 5, "other")]))
    t4 = core._table()
    bucket = store.partitions()[0]
    store.compact(bucket)
    assert core._table() is not t4
    # post-compact searches serve the swapped-in files without error
    out = core.search({"query": "service:fresh", "size": 10})
    assert len(out["docs"]) == 1
    core._httpd.server_close()


def _server(spark, tmp, store, **kw):
    return SeqSparkServer(
        spark, store, MAPPING, allowed_drift_ms=BIG, future_drift_ms=BIG,
        async_dir=os.path.join(tmp, "async"), **kw,
    )


def _rotated_tiered(spark, tmp):
    """A tiered store whose hot window (2 docs) is smaller than the full
    history (3 docs): hour 1 was rotated out of hot."""
    hot = DocStore(spark, os.path.join(tmp, "hot"))
    cold = DocStore(spark, os.path.join(tmp, "cold"))
    tiered = TieredStore(hot, cold)
    tiered.append(_docs_df(spark, [_doc(1, h) for h in (1, 2, 3)]))
    assert tiered.maintain(hot_min_bucket="2024-01-01-02")["hot_dropped"]
    return tiered, cold


def _darken(monkeypatch, cold):
    def dark(*a, **k):
        raise IOError("cold storage unreachable")

    monkeypatch.setattr(cold, "snapshot", dark)  # the partial probe
    monkeypatch.setattr(cold, "partitions", dark)
    monkeypatch.setattr(cold, "read", dark)


def _ids(core):
    return [[d["mid"], d["rid"]] for d in core.search({"query": "*"})["docs"]]


def test_cold_tier_going_dark_after_memo_hit_is_partial(spark, tmp,
                                                        monkeypatch):
    """A memoized full-store table must not serve a request whose own
    snapshot finds the cold tier dark, even with the fraction check off
    (limit 0 lists nothing on its own)."""
    tiered, cold = _rotated_tiered(spark, tmp)
    core = _server(spark, tmp, tiered, max_fraction_hits=0)
    full = core.search({"query": "*", "with_total": True})
    assert full["total"] == 3 and "partial_response" not in full
    ids = _ids(core)
    assert "partial_response" not in core.complex(
        {"query": "*", "with_total": True})
    _darken(monkeypatch, cold)
    out = core.search({"query": "*", "with_total": True})
    assert out.get("partial_response") is True
    assert out["total"] == 2 and len(out["docs"]) == 2  # the hot window
    cx = core.complex({"query": "*", "size": 5, "with_total": True})
    assert cx.get("partial_response") is True
    assert cx["total"] == 2
    got = core.fetch({"ids": ids})
    assert got.get("partial_response") is True
    assert len(got["docs"]) == 2  # the rotated doc lives in the dark tier
    core._httpd.server_close()


def test_cold_tier_recovery_serves_full_store(spark, tmp, monkeypatch):
    """Starting dark, requests are partial; once the cold tier answers
    again the next request reads the full store, unflagged."""
    tiered, cold = _rotated_tiered(spark, tmp)
    core = _server(spark, tmp, tiered, max_fraction_hits=0)
    _darken(monkeypatch, cold)
    for _ in range(2):  # the dark period outlasts one request
        out = core.search({"query": "*", "with_total": True})
        assert out.get("partial_response") is True and out["total"] == 2
    monkeypatch.undo()
    out = core.search({"query": "*", "with_total": True})
    assert "partial_response" not in out
    assert out["total"] == 3
    core._httpd.server_close()


def test_status_of_empty_store(spark, tmp, monkeypatch):
    core = _server(spark, tmp, DocStore(spark, os.path.join(tmp, "empty")))
    collected, _ = _spy_frames(monkeypatch)
    for _ in range(2):
        out = core.status()
        assert out["docs"] == 0 and out["oldest_ms"] is None
    assert len(collected) == 2 and collected[0] is collected[1]
    core._httpd.server_close()


def _spy_frames(monkeypatch):
    """Record every DataFrame collected and every ``select`` called."""
    from pyspark.sql.classic.dataframe import DataFrame

    collected, selected = [], []
    collect, select = DataFrame.collect, DataFrame.select

    def spy_collect(df):
        collected.append(df)
        return collect(df)

    def spy_select(df, *cols):
        selected.append(cols)
        return select(df, *cols)

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "select", spy_select)
    return collected, selected


def _collects(monkeypatch, fn):
    """``fn()``'s result and the DataFrames it collected, in order."""
    from pyspark.sql.classic.dataframe import DataFrame

    collected = []
    collect = DataFrame.collect
    with monkeypatch.context() as m:
        m.setattr(DataFrame, "collect",
                  lambda df: collected.append(df) or collect(df))
        return fn(), collected


def _held_frames(st):
    """The frames held in ``st``'s plan cache: cached searches, totals
    and status aggregates, and complex constructions' docs and fused
    frames."""
    held = []
    for (built,) in st._plan_cache.values():
        if isinstance(built, tuple):
            _route, docs, fused, _lock = built
            held += [docs, getattr(fused, "frame", None)]
        else:
            held.append(built)
    return [f for f in held if f is not None]


@pytest.mark.parametrize("path,body", [
    ("search", {"query": "service:auth", "size": 5, "with_total": True}),
    ("complex", {"query": "*", "size": 3, "with_total": True,
                 "aggs": [{"func": "count", "group_by": "service"}]}),
])
def test_repeated_request_collects_cached_frames(spark, tmp, monkeypatch,
                                                 path, body):
    """A repeated /search or /complex collects only frames held in the
    memoized table's plan cache and builds no new Dataset on top of
    them: a ``select`` on a cached frame would be analysed and planned
    again on every request."""
    store = DocStore(spark, os.path.join(tmp, "store"))
    store.append(_docs_df(spark, [_doc(1, 1), _doc(1, 2, "pay"),
                                  _doc(1, 3)]))
    core = _server(spark, tmp, store)
    first = getattr(core, path)(dict(body))
    collected, selected = _spy_frames(monkeypatch)
    second = getattr(core, path)(dict(body))
    monkeypatch.undo()
    assert second == first and second["docs"]
    held = _held_frames(core._table())
    assert collected and all(
        any(df is h for h in held) for df in collected), collected
    assert selected == []
    core._httpd.server_close()


def _count_calls(monkeypatch, obj, name):
    calls = []
    real = getattr(obj, name)

    def counted(*a, **k):
        calls.append(1)
        return real(*a, **k)

    monkeypatch.setattr(obj, name, counted)
    return calls


def test_memo_hit_lists_each_tier_once(spark, tmp, monkeypatch):
    """One request = one snapshot = one ``_manifest/`` LIST per tier: a
    memo-hit /search lists a DocStore's versions once and a tiered
    store's hot and cold tiers once each (the fraction check reads the
    snapshot's bucket list), and reads no manifest it already holds."""
    from seqspark.store import _HadoopFS

    store = DocStore(spark, os.path.join(tmp, "store"))
    store.append(_docs_df(spark, [_doc(1, 1)]))
    core = _server(spark, tmp, store)
    core.search({"query": "*"})  # builds and memoizes the table
    listed = _count_calls(monkeypatch, store._log, "current")
    reads = _count_calls(monkeypatch, _HadoopFS, "read_text")
    core.search({"query": "*"})
    assert (len(listed), len(reads)) == (1, 0)
    core._httpd.server_close()

    tiered, _ = _rotated_tiered(spark, os.path.join(tmp, "t"))
    core = _server(spark, tmp, tiered)
    core.search({"query": "*"})
    hot = _count_calls(monkeypatch, tiered.hot._log, "current")
    cold = _count_calls(monkeypatch, tiered.cold._log, "current")
    core.search({"query": "*"})
    assert (len(hot), len(cold)) == (1, 1)
    core._httpd.server_close()


def test_memo_miss_builds_through_from_store_once(spark, tmp, monkeypatch):
    """The perf harness counts table builds on SearchTable.from_store: a
    memo miss goes through it exactly once, a hit not at all."""
    store = DocStore(spark, os.path.join(tmp, "store"))
    store.append(_docs_df(spark, [_doc(1, 1)]))
    core = _server(spark, tmp, store)
    builds = []
    real = SearchTable.from_store.__func__

    def counted(cls, *a, **k):
        builds.append(1)
        return real(cls, *a, **k)

    monkeypatch.setattr(SearchTable, "from_store", classmethod(counted))
    core.search({"query": "*"})
    assert len(builds) == 1
    core.search({"query": "*"})
    assert len(builds) == 1
    core._httpd.server_close()


def test_perfbench_patch_points_resolve():
    """Every name the perf harness wraps still exists where it looks."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "perfbench"))
    try:
        from traced_server import TARGETS
    finally:
        sys.path.pop(0)
    for points in TARGETS.values():
        for point in points:
            mod_name, _, path = point.partition(":")
            owner = importlib.import_module(mod_name)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            assert callable(getattr(owner, attr)), point
    raw = inspect.getattr_static(SearchTable, "from_store")
    assert isinstance(raw, classmethod)


@pytest.mark.parametrize("path,body", [
    ("search", {"query": "service:auth", "size": 3, "with_total": True}),
    ("complex", {"query": "service:auth", "size": 3, "with_total": True}),
    ("complex", {"query": "service:auth", "size": 3, "with_total": True,
                 "aggs": [{"func": "count", "group_by": "service"}]}),
])
def test_concurrent_identical_requests_count_exact_totals(
        spark, tmp, monkeypatch, path, body):
    """Scanned docs with a total and no other fused branch observe their
    match count, and the accumulator behind it is shared by every
    execution of the one cached frame: each execution resets and refills
    it. Identical requests in flight together must each read their own,
    exact count, and the server's docs plan counts it without a fused job
    (with an agg the total is a fused branch)."""
    import threading

    ran = []
    fused_execute = SearchTable._fused_execute
    monkeypatch.setattr(SearchTable, "_fused_execute",
                        lambda st, f: ran.append(f) or fused_execute(st, f))

    store = DocStore(spark, os.path.join(tmp, "store"))
    for k in range(6):  # six files in one bucket: six tasks per scan
        store.append(_docs_df(spark, [
            _doc(1, 1, "pay" if i % 3 == 0 else "auth", f"m{k} {i}")
            for i in range(20)]))
    assert len(store.partitions()) == 1
    core = _server(spark, tmp, store)
    handler = getattr(core, path)
    first = handler(dict(body))  # one cached construction for all threads
    assert first["total"] == 6 * 13 and len(first["docs"]) == 3
    totals, errors = [], []

    def run():
        try:
            for _ in range(5):
                out = handler(dict(body))
                totals.append((out["total"], len(out["docs"])))
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert totals == [(6 * 13, 3)] * 20
    assert len(ran) == (21 if "aggs" in body else 0)
    core._httpd.server_close()


def test_observed_total_on_a_partial_tiered_snapshot(spark, tmp,
                                                     monkeypatch):
    """A table over a partial snapshot (cold tier dark) reads the hot
    window only, and its observed total counts exactly that window."""
    from test_complex_fused import _assert_total_parity

    tiered, cold = _rotated_tiered(spark, tmp)
    full = SearchTable.from_store(tiered, MAPPING)
    res, _ = _assert_total_parity(full, "service:auth")
    assert res.total_count == 3
    _darken(monkeypatch, cold)
    snap = tiered.snapshot()
    assert snap.partial
    st = SearchTable.from_store(snap, MAPPING)
    res, _ = _assert_total_parity(st, "service:auth")
    assert res.total_count == 2 and len(res.docs) == 2
    res, _ = _assert_total_parity(st, "*", offset=5)
    assert res.total_count == 2 and res.docs == []
