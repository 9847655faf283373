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
    assert len(res.docs.collect()) == min(5, total)
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
    assert res.docs.collect() == []


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
    assert [fused.frame.count() for _, _, fused in built] == [6, 6]


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

        def with_docs():
            plain.complex_search("svc:auth", size=5, **kw).docs.collect()

        assert _jobs(spark, with_docs) <= 2
        assert len(builds) == 2
    finally:
        del plain._fused_build


def test_total_uses_plan_cache(plain):
    a = plain.total("svc:pay")
    assert plain.total("svc:pay") is a
    assert plain.total("svc:auth") is not a
