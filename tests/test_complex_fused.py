"""complex_search as one plan-cached construction: a docs top-k plus ONE
fused, branch-tagged aggregate job.

Differential: every aggregation branch of a complex request must equal a
plain-Python model of the reference bucket rules over the same documents,
and every branch must equal the standalone total(), histogram() and
aggregate() answers on the same inputs — on a plain typed table (scalar
keyword specs) and on an ingested document table with an attached
inverted index (token-array specs, the path the indexed ingest store
takes). Plus the guards riding the fused job, the plan-cache reuse and
the Spark job budget of a request."""

from __future__ import annotations

import json
import math
import uuid
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from seqspark import (
    AggParseError,
    AggQuery,
    Mapping,
    SearchTable,
    TooManyUniqValuesError,
)
from seqspark.index import build_inverted_index
from seqspark.ingest import ingest_docs

T0 = 1_704_103_200_000  # 2024-01-01 10:00:00 UTC
SVCS = ["auth", "pay", "_not_exists", None]  # a REAL token spelled _not_exists
VALS = ["10", "2.5", "-3", None, "7", "oops", "1e3"]
WORDS = ["alpha beta", "beta gamma", "gamma", None, "alpha"]


def _docs(n=48):
    out = []
    for i in range(n):
        d = {"id": i, "ms": T0 + i * 17_000}
        for key, pool in (("svc", SVCS), ("v", VALS), ("msg", WORDS)):
            val = pool[i % len(pool)]
            if val is not None:
                d[key] = val
        out.append(d)
    return out


MAPPING = {"svc": "keyword", "v": "keyword", "msg": "text", "id": "keyword"}
# the plain table's extra row: a typed table may hold a NULL timestamp
NULL_TS_DOC = {"id": 48, "svc": "pay", "v": "4", "msg": "beta", "ms": None}


@pytest.fixture(scope="module")
def plain(spark):
    rows = [(d["id"], d.get("svc"), d.get("v"), d.get("msg"), d["ms"])
            for d in _docs() + [NULL_TS_DOC]]
    df = spark.createDataFrame(
        rows, "id long, svc string, v string, msg string, ms long"
    ).withColumn("ts", F.timestamp_millis("ms")).drop("ms")
    return SearchTable.from_typed(df, MAPPING, ts_col="ts", rid_col="id")


@pytest.fixture(scope="module")
def indexed(spark):
    raws = []
    for d in _docs():
        body = {k: v for k, v in d.items() if k != "ms"}
        body["timestamp"] = datetime.fromtimestamp(
            d["ms"] // 1000, timezone.utc).strftime("%Y-%m-%d %H:%M:%S.000")
        raws.append((json.dumps(body),))
    mapping = Mapping(MAPPING)
    docs = ingest_docs(
        spark.createDataFrame(raws, "raw string"), mapping,
        allowed_drift_ms=10**15, future_drift_ms=10**15,
    ).cache()
    tok = F.col("tokens")
    idx = build_inverted_index(
        docs, {f: tok.getItem(f) for f in ("svc", "v", "msg")},
        id_cols=["mid", "rid"],
    ).cache()
    st = SearchTable.from_docs(docs, mapping)
    return st.attach_index(idx, ["svc", "v", "msg"], ["mid", "rid"])


def _canon(rows):
    """Order-free, NaN-aware, float-tolerant bucket multiset."""
    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 9)
        return v

    return sorted((tuple(cell(v) for v in r) for r in rows), key=repr)


# --- a plain-Python model of the reference aggregation rules
# (`frac/processor/aggregator.go:77-283`, finalize `seq/qpr.go:199-314`),
# independent of any Spark construction


def _toks(d, fieldname):
    v = d.get(fieldname)
    if v is None:
        return []
    return v.split() if fieldname == "msg" else [v]


def _num(tok):
    """parseNum: a finite Go float, else no sample."""
    try:
        x = float(tok)
    except ValueError:
        return None
    return x if math.isfinite(x) else None


def _percentile(xs, q):
    """Exact linear-interpolation percentile (Spark ``percentile``)."""
    xs = sorted(xs)
    pos = q * (len(xs) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return xs[lo] if lo == hi else (hi - pos) * xs[lo] + (pos - lo) * xs[hi]


def _model_docs(which, q, from_ms, to_ms):
    docs = _docs() + ([NULL_TS_DOC] if which == "plain" else [])
    match = {
        "*": lambda d: True,
        "svc:auth or svc:pay": lambda d: d.get("svc") in ("auth", "pay"),
        "msg:alpha": lambda d: "alpha" in _toks(d, "msg"),
        "svc:auth": lambda d: d.get("svc") == "auth",
        "msg:alpha and not svc:pay": lambda d: (
            "alpha" in _toks(d, "msg") and d.get("svc") != "pay"),
    }[q]
    return [d for d in docs if match(d) and (from_ms is None or (
        d["ms"] is not None and from_ms <= d["ms"] <= to_ms))]


def _model(docs, aq):
    """One aggregation's bucket tuples, in aggregate()'s column order."""
    func, group, field = aq.func, aq.group_by, aq.field
    if func in ("count", "unique"):  # field: legacy group alias
        group, field = group or field, None
    qs = list(aq.quantiles) if func == "quantile" else []
    buckets = {}  # (mid, name, legacy?) -> [docs, samples, not_exists]

    def bucket(mid, name, legacy=False):
        return buckets.setdefault((mid, name, legacy), [0, [], 0])

    for d in docs:
        mid = None
        if aq.interval_ms and d["ms"] is not None:
            mid = d["ms"] - d["ms"] % aq.interval_ms
        groups = _toks(d, group) if group else [None]
        if field is None:
            if not groups and func == "count":  # the legacy bucket
                bucket(None, "_not_exists", True)[0] += 1
            for g in groups:
                bucket(mid, g)[0] += 1
            continue
        for g in groups:  # a doc without a group token has no bucket
            for tok in _toks(d, field) or [None]:
                if tok is None:  # missing field: per-bucket not_exists
                    if group:
                        bucket(mid, g)[2] += 1
                    continue
                x = _num(tok)
                bucket(mid, g)[1].extend([] if x is None else [x])
    aggs = {"sum": sum, "min": min, "max": max,
            "avg": lambda xs: sum(xs) / len(xs),
            "quantile": lambda xs: _percentile(xs, qs[0])}
    out = []
    for (mid, name, _), (n, xs, ne) in buckets.items():
        if func in ("count", "unique"):
            value = float(n) if func == "count" else 0.0
        else:
            value = aggs[func](xs) if xs else float("nan")
        qv = [_percentile(xs, qq) if xs else None for qq in qs]
        tail = (ne, value) if qs and group else (value, ne)
        out.append((mid, name, *qv, *tail))
    return out


# every func; grouped and ungrouped, with and without an interval, over
# scalar and token-array (msg) groups
AGGS = [
    AggQuery(func="count", field="svc"),
    AggQuery(func="count", group_by="msg", interval_ms=60_000),
    AggQuery(func="unique", group_by="svc"),
    AggQuery(func="sum", field="v"),
    AggQuery(func="sum", field="v", group_by="svc"),
    AggQuery(func="min", field="v", group_by="msg"),
    AggQuery(func="max", field="v", group_by="svc", interval_ms=120_000),
    AggQuery(func="avg", field="v", interval_ms=60_000),
    AggQuery(func="quantile", field="v", quantiles=[0.5, 0.9],
             exact_quantiles=True),
    AggQuery(func="quantile", field="v", group_by="svc", quantiles=[0.25],
             exact_quantiles=True, interval_ms=60_000),
]

QUERIES = [
    ("*", None, None),
    ("svc:auth or svc:pay", None, None),
    ("msg:alpha", T0 + 60_000, T0 + 600_000),
]


@pytest.mark.parametrize("which", ["plain", "indexed"])
@pytest.mark.parametrize("q,from_ms,to_ms", QUERIES)
def test_complex_branches_equal_standalone(request, which, q, from_ms, to_ms):
    st = request.getfixturevalue(which)
    win = dict(from_ms=from_ms, to_ms=to_ms)
    res = st.complex_search(
        q, size=5, with_total=True, hist_interval_ms=60_000, aggs=AGGS, **win
    )
    total = st.total(q, **win).head()["total"]
    assert res.total_count == total
    hist = sorted((tuple(r) for r in st.histogram(q, 60_000, **win).collect()),
                  key=lambda t: (t[0] is not None, t[0] or 0))
    assert res.histogram_rows == hist
    if which == "plain" and from_ms is None:
        assert hist[0] == (None, 1)
    assert len(res.docs) == min(5, total)
    docs = _model_docs(which, q, from_ms, to_ms)
    assert total == len(docs)
    for aq, buckets in zip(AGGS, res.agg_buckets):
        got = [tuple(b.values()) for b in buckets]
        # the plain-Python model is the independent reference for every
        # shape; aggregate(), its own one-agg construction, must agree
        # too, so no branch of the fused job leaks into another
        assert _canon(got) == _canon(_model(docs, aq)), aq
        ref = st.aggregate(aq, q, **win)
        assert _canon(got) == _canon(ref.collect()), aq
        assert all(list(b) == ref.columns for b in buckets), aq
    if q == "*":
        # NaN buckets: rows whose field tokens never parse
        assert any(isinstance(b["value"], float) and math.isnan(b["value"])
                   for bs in res.agg_buckets for b in bs)
        # missing-group docs: the legacy bucket AND the real token
        names = [b["name"] for b in res.agg_buckets[0]]
        assert names.count("_not_exists") == 2
        # per-bucket not_exists for grouped field aggs
        assert sum(b["not_exists"] for b in res.agg_buckets[4]) > 0


@pytest.mark.parametrize("which", ["plain", "indexed"])
def test_complex_empty_result_set(request, which):
    st = request.getfixturevalue(which)
    res = st.complex_search(
        "svc:nomatch", size=5, with_total=True, hist_interval_ms=60_000,
        aggs=AGGS[:2] + AGGS[4:5],
    )
    assert res.total_count == 0 and res.histogram_rows == []
    assert res.agg_buckets == [[], [], []]
    assert res.docs == []


@pytest.mark.parametrize("which", ["plain", "indexed"])
def test_complex_bucket_order_matches_aggregate(request, which):
    st = request.getfixturevalue(which)
    res = st.complex_search(aggs=AGGS)
    for aq, buckets in zip(AGGS, res.agg_buckets):
        # the Spark-side reference order, not the driver-side sort key
        # both paths share
        want = st.aggregate(aq).orderBy(
            *SearchTable.bucket_order_cols(aq.func)).collect()
        assert [_canon([b.values()]) for b in buckets] == [
            _canon([r]) for r in want
        ], aq


@pytest.mark.parametrize("which", ["plain", "indexed"])
def test_complex_guards_match_aggregate(request, which, caps):
    st = request.getfixturevalue(which)

    def err(fn):
        with pytest.raises((TooManyUniqValuesError, AggParseError)) as e:
            fn()
        return type(e.value), str(e.value)

    cases = [
        (AggQuery(func="count", field="msg"), dict(group=2)),
        (AggQuery(func="count", field="msg", interval_ms=60_000),
         dict(group=2)),
        (AggQuery(func="sum", field="v", group_by="svc"), dict(group=1)),
        (AggQuery(func="min", field="v", group_by="svc"), dict(field=2)),
        (AggQuery(func="avg", field="v", interval_ms=60_000), dict(field=2)),
        (AggQuery(func="sum", field="v", group_by="svc"), dict(strict=True)),
        (AggQuery(func="max", field="v", interval_ms=60_000),
         dict(strict=True)),
    ]
    for aq, kw in cases:
        strict = kw.pop("strict", False)
        caps(st, **kw)
        want = err(lambda: st.aggregate(aq, strict=strict))
        got = err(lambda: st.complex_search(
            with_total=True, aggs=[aq], strict=strict))
        assert got == want, (aq, kw)
    # the reference messages, timeseries shapes included
    caps(st, group=2)
    with pytest.raises(TooManyUniqValuesError,
                       match=r"^group_by 'msg' has \d+ unique tokens > 2$"):
        st.aggregate(AggQuery(func="count", field="msg", interval_ms=60_000))
    caps(st, field=2)
    with pytest.raises(TooManyUniqValuesError, match="--agg-max-field-tokens"):
        st.aggregate(AggQuery(func="avg", field="v", interval_ms=60_000))
    # `_not_exists` never counts toward the group guard: svc has exactly
    # two real groups plus the legacy bucket and a real `_not_exists`
    caps(st, group=2)
    res = st.complex_search(aggs=[AggQuery(func="count", field="svc")])
    assert {b["name"] for b in res.agg_buckets[0]} == {
        "auth", "pay", "_not_exists"}
    assert st.aggregate(
        AggQuery(func="count", field="svc", interval_ms=60_000)).count() > 0
    # a strict request over parsable tokens only passes
    st.complex_search(
        "svc:auth and not v:oops", aggs=[AggQuery(func="sum", field="v")],
        strict=True,
    )


def test_group_guard_failure_ships_bounded_rows(plain, caps):
    ids = AggQuery(func="count", field="id")
    res = plain.complex_search(aggs=[ids])
    n = len(res.agg_buckets[0])
    assert n == 49
    caps(plain, group=5)
    with pytest.raises(TooManyUniqValuesError, match=f"has {n} unique"):
        plain.complex_search(aggs=[ids])
    # the same cut bounds aggregate()'s, timeseries shapes included
    with pytest.raises(TooManyUniqValuesError, match=f"has {n} unique"):
        plain.aggregate(ids)
    with pytest.raises(TooManyUniqValuesError, match=f"has {n} unique"):
        plain.aggregate(AggQuery(func="count", field="id", interval_ms=60_000))
    built = [v[0] for k, v in plain._plan_cache.items() if k[0] == "complex"]
    # the guard cut keeps cap+1 real groups: a failure never ships the
    # whole bucket set to the driver
    assert len(built) == 2
    assert [fused.frame.count() for _, _, fused, _ in built] == [6, 6]


def _jobs(spark, fn):
    sc = spark.sparkContext
    group = f"complex-jobs-{uuid.uuid4()}"  # id() values get reused
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_complex_reuses_cached_construction_and_job_budget(spark, plain):
    builds = []
    orig = plain._fused_build

    def counting(*a, **kw):
        builds.append(1)
        return orig(*a, **kw)

    plain._plan_cache.clear()
    plain._fused_build = counting
    try:
        kw = dict(with_total=True, hist_interval_ms=60_000, aggs=AGGS[:6])
        first = plain.complex_search("svc:auth", **kw)
        assert len(builds) == 1
        # a repeat is served by the cached construction: one job, the
        # fused aggregate's result stage
        assert _jobs(spark, lambda: plain.complex_search("svc:auth", **kw)) == 1
        assert len(builds) == 1
        again = plain.complex_search("svc:auth", **kw)
        assert [_canon(d.values() for d in b) for b in again.agg_buckets] \
            == [_canon(d.values() for d in b) for b in first.agg_buckets]
        assert again.histogram_rows == first.histogram_rows
        # with docs: the top-k is the second job
        plain.complex_search("svc:auth", size=5, **kw)
        assert _jobs(spark, lambda: plain.complex_search(
            "svc:auth", size=5, **kw)) <= 2
        assert len(builds) == 2
    finally:
        del plain._fused_build


def test_total_uses_plan_cache(plain):
    a = plain.total("svc:pay")
    assert plain.total("svc:pay") is a
    assert plain.total("svc:auth") is not a


# --- the observed total: scanned docs count their own matches


def _construction(st, q, size, offset=0, from_ms=None, to_ms=None):
    """The cached ``(route, docs, fused, lock)`` of ``complex_search(q,
    size, offset, with_total=True)`` (a plan-cache hit after that call)."""
    return st._complex_plan(
        q, from_ms, to_ms, size, offset, "desc", True, None, (), False, None,
        None, None)


def _assert_total_parity(st, q, offset=0, observed=True, **win):
    """A with_total request with docs answers SearchTable.total() and the
    size=0 fused total, on its first execution and again from the plan
    cache. Scanned docs count it themselves and no fused job runs, unless
    ``observed`` is False: the plan that ran could not count each match
    once, and the size=0 fused total answered each time (None: either).
    Routed docs and size=0 keep the fused total."""
    ran = []
    st._fused_execute = lambda fused: ran.append(fused) or type(
        st)._fused_execute(st, fused)
    try:
        res, again = (st.complex_search(
            q, size=5, offset=offset, with_total=True, **win)
            for _ in range(2))
    finally:
        del st._fused_execute
    want = st.total(q, **win).head()["total"]
    fused_only = st.complex_search(q, size=0, with_total=True, **win)
    assert res.total_count == again.total_count == want \
        == fused_only.total_count, (q, offset, win)
    assert res.docs == again.docs
    route, docs, fused, lock = _construction(st, q, 5, offset, **win)
    assert res.route == route and docs is not None
    if route == "scan":
        assert fused is None and lock is not None, (q, offset, win)
        if observed is not None:
            assert len(ran) == (0 if observed else 2), (q, offset, win)
    else:
        assert [b.func for b in fused.branches] == ["total"], (q, offset, win)
        assert lock is None and len(ran) == 2
    route0, docs0, fused0, lock0 = _construction(st, q, 0, **win)
    assert route0 is None and docs0 is None and lock0 is None
    assert [b.func for b in fused0.branches] == ["total"]
    return res, docs


@pytest.mark.parametrize("which", ["plain", "indexed"])
def test_observed_total_parity(request, which):
    st = request.getfixturevalue(which)
    for q in ("*", "svc:auth or svc:pay", "msg:alpha"):
        res, _ = _assert_total_parity(st, q)
        assert len(res.docs) == min(5, res.total_count)
    piped, _ = _assert_total_parity(st, "svc:auth | fields svc")
    assert piped.docs and all(
        list(r.asDict()) == ["svc"] if which == "plain"
        else r["raw"] == '{"svc":"auth"}' for r in piped.docs)
    # an empty time window
    res, _ = _assert_total_parity(st, "*", from_ms=T0 - 10**7,
                                  to_ms=T0 - 10**6)
    assert res.total_count == 0 and res.docs == []
    # offset past the last match: the docs page is empty, the total is not
    res, _ = _assert_total_parity(st, "svc:auth", offset=1000)
    assert res.docs == [] and res.total_count > 0


def test_offset_past_a_known_row_count_keeps_the_fused_total(spark):
    """Over a local relation the optimizer knows the row count (it even
    evaluates the filter: 12 matches). An offset past it folds the page to
    an empty relation and drops the observation with it, so the fused
    total answers instead."""
    import pyarrow as pa

    rows = [(d["id"], d.get("svc"), d["ms"]) for d in _docs()]
    df = spark.createDataFrame(pa.table(
        {k: [r[i] for r in rows] for i, k in enumerate(("id", "svc", "ms"))},
        schema=pa.schema([("id", pa.int64()), ("svc", pa.string()),
                          ("ms", pa.int64())]),
    )).withColumn("ts", F.timestamp_millis("ms")).drop("ms")
    st = SearchTable.from_typed(df, {"svc": "keyword", "id": "keyword"},
                                ts_col="ts", rid_col="id")
    res, docs = _assert_total_parity(st, "svc:auth", offset=1000,
                                     observed=False)
    assert res.docs == [] and res.total_count == 12
    assert "LocalRelation <empty>" in (
        docs._jdf.queryExecution().optimizedPlan().toString())
    # an offset that leaves less than a page (12 - 10 < 5): the limit is
    # dropped and the page becomes a global sort, whose range shuffle
    # would count the observed rows twice — but a short page is its own
    # total (offset + rows), so no fused job runs
    res, _ = _assert_total_parity(st, "svc:auth", offset=10)
    assert len(res.docs) == 2 and res.total_count == 12
    # an offset that leaves more than a page keeps its top-k: observed
    res, _ = _assert_total_parity(st, "svc:auth", offset=3)
    assert len(res.docs) == 5 and res.total_count == 12


def test_observed_total_of_a_folded_predicate(plain):
    """A non-integer literal on the integral ``id`` keyword column compiles
    to a false filter that the optimizer folds to an empty relation. Its
    row count (0) fits the page, so the limit goes and the page is a
    global sort, which cannot count; the empty first page is its own
    total (0), so no fused job runs either."""
    res, docs = _assert_total_parity(plain, "id:1.5 or id:x")
    assert res.total_count == 0 and res.docs == []
    plan = docs._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation <empty>" in plan and "Limit" not in plan


@pytest.mark.parametrize("threshold,join", [
    (None, "BroadcastHashJoin"), ("-1", "SortMergeJoin")])
def test_observed_total_over_index_semi_join(spark, indexed, threshold, join):
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    indexed._plan_cache.clear()
    try:
        if threshold is not None:
            spark.conf.set(key, threshold)
        for q in ("svc:auth", "msg:alpha and not svc:pay"):
            n = len(_model_docs("indexed", q, None, None))
            res, docs = _assert_total_parity(indexed, q)
            assert res.total_count == n
            plan = docs._jdf.queryExecution().executedPlan().toString()
            assert "LeftSemi" in plan and join in plan, plan
            # the last page exactly (matches == offset + size), an offset
            # at the last match and one past it; the plan that runs after
            # the join's stages may differ, the total may not
            for offset in (n - 5, n, n + 3):
                res, _ = _assert_total_parity(indexed, q, offset=offset,
                                              observed=None)
                assert res.total_count == n
                assert len(res.docs) == min(5, max(0, n - offset))
    finally:
        spark.conf.set(key, old)
        indexed._plan_cache.clear()


def test_short_page_is_its_own_total(spark, indexed):
    """A page shorter than ``size`` holds every match past its offset, so
    its total is offset + rows and no fused job runs, also where the plan
    that ran cannot count: an index semi-join whose id side is empty
    (AQE folds the page to an empty relation), and an offset that leaves
    less than a page."""
    q = "msg:nosuchtoken and svc:auth"
    res, docs = _assert_total_parity(indexed, q)
    assert res.total_count == 0 and res.docs == []
    assert "LeftSemi" in docs._jdf.queryExecution().optimizedPlan().toString()
    n = len(_model_docs("indexed", "svc:auth", None, None))
    res, _ = _assert_total_parity(indexed, "svc:auth", offset=n - 2)
    assert res.total_count == n and len(res.docs) == 2


def test_observed_total_with_nested_dedup(spark):
    """A nested mapping stores one row per nested element, all sharing
    the document's (mid, rid): default_dedup collapses them before the
    top-k, and the observed count sits above that dedup."""
    mapping = Mapping.from_yaml_obj({"mapping-list": [
        {"name": "svc", "type": "keyword"},
        {"name": "items", "type": "nested",
         "mapping-list": [{"name": "kind", "type": "keyword"}]},
    ]})
    raws = [(json.dumps({
        "timestamp": f"2024-01-01 10:00:{i:02d}.000", "svc": SVCS[i % 2],
        "items": [{"kind": k} for k in ("a", "b", "c")[:1 + i % 3]],
    }),) for i in range(30)]
    docs = ingest_docs(spark.createDataFrame(raws, "raw string"), mapping,
                       allowed_drift_ms=10**15, future_drift_ms=10**15)
    st = SearchTable.from_docs(docs, mapping)
    assert st.default_dedup == ["mid", "rid"]
    assert docs.count() > 30  # one row per nested element
    res, _ = _assert_total_parity(st, "svc:auth")
    assert res.total_count == 15
    res, _ = _assert_total_parity(st, "items.kind:b")
    assert res.total_count == 20
    # fewer matches than the page: the top-k is kept at runtime too
    for size, offset in ((5, 0), (10, 0), (3, 4)):
        res = st.complex_search("svc:auth and items.kind:c", size=size,
                                offset=offset, with_total=True)
        assert res.total_count == 5 and len(res.docs) == min(size, 5 - offset)


def test_total_is_observed_only_when_it_removes_the_fused_job(
        plain, monkeypatch):
    """size=0 has no docs to count with; a histogram or an aggregation
    runs the fused job anyway, so the total stays one of its branches."""
    from pyspark.sql.classic.dataframe import DataFrame

    observed = []
    observe = DataFrame.observe
    monkeypatch.setattr(DataFrame, "observe",
                        lambda d, *a: observed.append(a) or observe(d, *a))
    plain._plan_cache.clear()
    want = plain.total("svc:pay").head()["total"]
    for kw in (dict(size=0), dict(size=0, aggs=AGGS[:1]),
               dict(size=2, aggs=AGGS[:1]),
               dict(size=2, hist_interval_ms=60_000)):
        res = plain.complex_search("svc:pay", with_total=True, **kw)
        assert res.total_count == want, kw
        assert res.docs is None if kw["size"] == 0 else len(res.docs) == 2
    assert observed == []
    res = plain.complex_search("svc:pay", size=2, with_total=True)
    assert res.total_count == want and len(observed) == 1


def test_export_size_keeps_the_fused_total(plain):
    """``size=None`` (every match) sorts through a range shuffle whose
    sampling job would count the observed rows a second time."""
    res = plain.complex_search("svc:auth", size=None, with_total=True)
    assert res.total_count == len(res.docs) == plain.total(
        "svc:auth").head()["total"]
    (built,), = [v for k, v in plain._plan_cache.items()
                 if k[:5] == ("complex", "svc:auth", None, None, None)]
    assert [b.func for b in built[2].branches] == ["total"]
    assert built[3] is None  # no lock: nothing observed


def test_observed_total_over_a_cached_table(spark):
    """A table over a ``.cache()``d frame with a text field. A ``| fields``
    pipe there leaves a projection above the top-k (the token column the
    table adds is dropped first), and the top-k then runs through a
    single-partition shuffle: executing the cached frame again reuses
    that shuffle and skips the counting stage (it read 0), so the fused
    total answers. Without the pipe the top-k is the root and counts
    every time."""
    rows = [(d["id"], d.get("svc"), d.get("v"), d.get("msg"), d["ms"])
            for d in _docs()]
    df = spark.createDataFrame(
        rows, "id long, svc string, v string, msg string, ms long",
    ).withColumn("ts", F.timestamp_millis("ms")).drop("ms").cache()
    try:
        st = SearchTable.from_typed(df, MAPPING, ts_col="ts", rid_col="id")
        res, docs = _assert_total_parity(st, "* | fields v, svc",
                                         offset=3, observed=False)
        assert res.total_count == 48
        assert [list(r.asDict()) for r in res.docs] == [["v", "svc"]] * 5
        root = docs._jdf.queryExecution().executedPlan().toString()
        assert "Project" in root.splitlines()[0], root
        res, _ = _assert_total_parity(st, "svc:auth", offset=3)
        assert res.total_count == 12 and len(res.docs) == 5
    finally:
        df.unpersist()
