"""r17 optimization internals: the prepared-plan cache and the
single-pass count+group_by `_not_exists` fold.

The cache must be a pure plan-construction memo — identical results,
same lazy object back, execution recomputed per call. It is never
invalidated: a new index means a new table with its own cache. The
count fold must produce the exact row set the old union shape
produced, from ONE scan."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from bench import _canon, _plan_str, collected_frames
from seqspark import AggQuery, Mapping, SearchTable
from seqspark.ingest import ingest_docs
from seqspark.store import DocStore
from test_table_memo import _collects
from test_two_phase_routing import _wide_table

MAPPING = {"grp": "keyword", "value": "keyword", "event_id": "keyword"}


def _table(spark):
    data = [
        (1, None, 5.0),
        (2, "a", 1.0),
        (3, "_not_exists", 2.0),
        (4, "a", None),
        (5, "b", 7.5),
    ]
    df = spark.createDataFrame(
        data, "event_id long, grp string, value double"
    ).withColumn("ts", F.timestamp_millis(F.col("event_id") * 1000))
    return SearchTable.from_typed(
        df, MAPPING, ts_col="ts", rid_col="event_id"
    )


def test_search_plan_cache_hits_and_matches(spark):
    st = _table(spark)
    df1 = st.search("grp:a", size=10, order="asc")
    df2 = st.search("grp:a", size=10, order="asc")
    assert df2 is df1, "identical request should reuse the prepared plan"
    rows = [r["event_id"] for r in df1.collect()]
    assert rows == [2, 4]
    # different args miss the cache
    df3 = st.search("grp:a", size=10, order="desc")
    assert df3 is not df1
    assert [r["event_id"] for r in df3.collect()] == [4, 2]


def test_attach_index_returns_new_table_with_empty_cache(spark):
    st = _table(spark)
    df1 = st.search("grp:b")
    cached = dict(st._plan_cache)
    idx = spark.createDataFrame([("b", 5)], "token string, event_id long")
    routed = st.attach_index(idx, ["grp"], ["event_id"])
    assert routed is not st
    assert not routed._plan_cache and routed._index is not None
    # the receiver is untouched: same routing, same cached frames
    assert st._index is None
    assert st._plan_cache == cached
    assert st.search("grp:b") is df1


def test_search_plan_cache_lru_bound(spark):
    st = _table(spark)
    for i in range(st._PLAN_CACHE_CAP + 10):
        st.search("*", size=i + 1)
    assert len(st._plan_cache) <= st._PLAN_CACHE_CAP


def test_aggregate_cache_reexecutes_per_call(spark):
    st = _table(spark)
    aggq = AggQuery(func="count", field="grp")
    a1 = st.aggregate(aggq)
    ((built,),) = st._plan_cache.values()
    out = []
    frames = collected_frames(lambda: out.append(st.aggregate(aggq)))
    # the hit runs the cached construction's fused frame again: equal rows
    assert len(frames) == 1 and frames[0] is built[2].frame
    assert sorted(map(tuple, a1.collect())) == sorted(map(tuple, out[0].collect()))


def test_count_group_not_exists_single_scan_plan(spark):
    st = _table(spark)
    st.aggregate(AggQuery(func="count", field="grp"))
    ((built,),) = st._plan_cache.values()
    probe = built[2].frame  # the fused frame the aggregate executed
    jvm = spark._jvm
    plan = probe._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    # the r17 fold: one pass — no Union of a second aggregation, one scan
    # (an executed AQE plan prints Final AND Initial sections — check the
    # final one)
    plan = plan.split("== Initial Plan ==")[0]
    assert "Union" not in plan
    assert plan.count("Scan ExistingRDD") + plan.count("Scan parquet") == 1


def test_count_group_not_exists_rows_exact(spark):
    st = _table(spark)
    out = st.aggregate(AggQuery(func="count", field="grp"))
    rows = sorted(
        (r["name"], r["value"], r["mid_ms"], r["not_exists"])
        for r in out.collect()
    )
    # 'a' x2, 'b' x1, a REAL token spelled _not_exists x1, and the
    # synthetic missing-group bucket x1 — kept as SEPARATE rows exactly
    # like the old union shape
    assert rows == [
        ("_not_exists", 1.0, None, 0),
        ("_not_exists", 1.0, None, 0),
        ("a", 2.0, None, 0),
        ("b", 1.0, None, 0),
    ]


def test_count_group_not_exists_timeseries_mid_null(spark):
    st = _table(spark)
    out = st.aggregate(
        AggQuery(func="count", field="grp", interval_ms=2000)
    )
    rows = {(r["name"], r["mid_ms"]): r["value"] for r in out.collect()}
    # missing-group docs collapse into ONE bucket with NULL mid even
    # under an interval (legacy union behavior)
    assert rows[("_not_exists", None)] == 1.0
    assert sum(1 for (n, _m) in rows if n == "_not_exists") == 2


def test_load_table_memo_identity(spark):
    from seqspark.data import load_table

    a = load_table(spark, "/root/testdata/sf0.001", "events")
    b = load_table(spark, "/root/testdata/sf0.001", "events")
    assert a is b
    assert a.count() > 0


@pytest.mark.parametrize("order", ["asc", "desc"])
def test_cached_pages_disjoint(spark, order):
    st = _table(spark)
    p0 = [r["event_id"] for r in st.search("*", size=2, offset=0, order=order).collect()]
    p1 = [r["event_id"] for r in st.search("*", size=2, offset=2, order=order).collect()]
    p0b = [r["event_id"] for r in st.search("*", size=2, offset=0, order=order).collect()]
    assert p0 == p0b and not set(p0) & set(p1)


def test_agg_built_schema_state_set_at_build(spark):
    # r18: the LocalRelation schema is fixed at build, BEFORE the object
    # is published to the plan cache — the bucket columns sit on the
    # construction's branch and the schema pair comes from the shared
    # `_bucket_schemas` memo, so concurrent executes mutate nothing
    from seqspark.engine import _bucket_schemas

    st = _table(spark)
    aq = AggQuery(func="count", group_by="grp")
    out = st.aggregate(aq)
    (built,) = [v[0] for k, v in st._plan_cache.items() if k[0] == "complex"]
    _route, docs, fused, lock = built
    assert docs is None and lock is None
    names = fused.branches[0].names
    assert names == out.columns
    assert _bucket_schemas(tuple(names))[0] == out.schema


def test_concurrent_aggregate_execute(spark):
    # concurrent executes of ONE cached shape: identical results, no
    # errors (the pre-r18 lazy local_schema write was the only shared
    # mutation on this path)
    import threading

    st = _table(spark)
    aq = AggQuery(func="count", group_by="grp")
    expected = sorted(
        tuple(r) for r in st.aggregate(aq).collect()
    )
    results: list = []
    errors: list = []

    def run():
        try:
            rows = sorted(tuple(r) for r in st.aggregate(aq).collect())
            results.append(rows)
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=run) for _ in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert all(r == expected for r in results)


DOC_COLUMNS = ("mid", "rid", "raw")


def _doc_table(spark, tmp_path):
    mapping = Mapping({"service": "keyword", "message": "text"})
    docs = [{"timestamp": f"2024-01-01 {h:02d}:00:00.000", "service": svc,
             "message": f"hello {svc} {h}"}
            for h, svc in enumerate(["auth", "pay", "auth", "db", "auth"])]
    store = DocStore(spark, str(tmp_path / "store"))
    store.append(ingest_docs(
        spark.createDataFrame([(json.dumps(d),) for d in docs], "raw string"),
        mapping, allowed_drift_ms=10**15, future_drift_ms=10**15,
    ))
    return store.search_table(mapping)


def _assert_same_frame(projected, select_on_top):
    """Same rows in the same order, same canonical plan."""
    assert ([tuple(r) for r in projected.collect()]
            == [tuple(r) for r in select_on_top.collect()])
    assert (_canon(_plan_str(projected))
            == _canon(_plan_str(select_on_top)))


@pytest.mark.parametrize("q", ["service:auth", "* | fields service"])
def test_projected_search_matches_select_on_top(spark, tmp_path, q,
                                                monkeypatch):
    """``columns=`` is the cached twin of a ``select`` on the result: the
    projection is its own cache entry, and the unprojected frame keeps
    every public column."""
    st = _doc_table(spark, tmp_path)
    full = st.search(q, size=3, offset=1)
    assert full.columns == st._public(st.df).columns
    got = st.search(q, size=3, offset=1, columns=DOC_COLUMNS)
    assert got is not full and got.columns == list(DOC_COLUMNS)
    assert st.search(q, size=3, offset=1, columns=DOC_COLUMNS) is got
    assert st.search(q, size=3, offset=1) is full
    res, collected = _collects(
        monkeypatch, lambda: st.complex_search(q, size=3, offset=1))
    assert len(collected) == 1 and collected[0] is full
    assert res.route == "scan" and res.docs == full.collect()
    _assert_same_frame(got, full.select(*DOC_COLUMNS))


def test_projected_complex_docs_match_select_on_top(spark, tmp_path,
                                                    monkeypatch):
    st = _doc_table(spark, tmp_path)
    kw = dict(size=2, with_total=True, aggs=[AggQuery(func="count",
                                                      group_by="service")])

    def complex_docs(**more):
        """The result and the docs frame it collected (the last
        collect; the fused aggregate runs first)."""
        res, collected = _collects(
            monkeypatch, lambda: st.complex_search("*", **kw, **more))
        return res, collected[-1]

    full, full_docs = complex_docs()
    got, got_docs = complex_docs(columns=DOC_COLUMNS)
    assert full_docs.columns == st._public(st.df).columns
    assert got_docs is not full_docs
    again, again_docs = complex_docs(columns=DOC_COLUMNS)
    assert again_docs is got_docs and again.docs == got.docs
    assert (got.total_count, got.agg_buckets) == (full.total_count,
                                                  full.agg_buckets)
    assert [tuple(r) for r in got.docs] == [
        tuple(r[c] for c in DOC_COLUMNS) for r in full.docs]
    _assert_same_frame(got_docs, full_docs.select(*DOC_COLUMNS))


def test_projected_two_phase_search_matches_select_on_top(spark, tmp_path,
                                                          monkeypatch):
    """A routed two-phase frame gets the same projection and is cached
    like a scanned one: a repeat is the same frame and runs no phase-1
    id-page collect."""
    from pyspark.sql.classic.dataframe import DataFrame

    df, idx, stats, m = _wide_table(spark, tmp_path)
    st = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"], stats=stats,
                   two_phase_min_doc_bytes=64)
    cols = ("mid", "rid", "text")
    res, collected = _collects(monkeypatch, lambda: st.complex_search(
        "text:alpha", size=5, offset=1, columns=cols))
    got = collected[-1]  # after phase 1's id page
    assert res.route == "two_phase" and got.columns == list(cols)
    assert res.docs == got.collect()
    full = st.search("text:alpha", size=5, offset=1)
    assert st.complex_search("text:alpha", size=5, offset=1).route == (
        "two_phase")
    _assert_same_frame(got, full.select(*cols))
    collected = []
    collect = DataFrame.collect
    monkeypatch.setattr(DataFrame, "collect",
                        lambda d: collected.append(d) or collect(d))
    assert st.search("text:alpha", size=5, offset=1, columns=cols) is got
    assert collected == []
