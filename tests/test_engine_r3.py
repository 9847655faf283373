"""Round-3 engine features: numeric-range pushdown, tokens at rest,
ComplexSearch, agg parity (NotExists buckets, NaN, ordering, strict parse,
guard enforcement), keyset pagination, multi-type sub-fields on typed
tables."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from seqspark import (
    AggParseError,
    AggQuery,
    SearchTable,
    TooManyUniqValuesError,
    materialize_tokens,
)

EVENTS_MAPPING = {
    "event_type": "keyword",
    "user_id": "keyword",
    "value": "keyword",
    "props": "text",
    "event_id": "keyword",
}


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# ----------------------------------------------------------- plan assertions


def test_numeric_range_reaches_pushed_filters(events):
    """`value:[10, 20)` on a native double column must compile to bare
    comparisons that reach the Parquet scan — no CAST(CAST(c AS STRING) AS
    DOUBLE) (VERDICT r2 'What's wrong #2')."""
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    plan = physical_plan(events.filter(st.predicate("value:[10, 20)")))
    assert "(value" in plan and ">= 10.0" in plan
    assert "cast(value" not in plan.lower()


def test_numeric_range_same_result_as_token_path(events):
    """Native-column compilation must give the same rows as the
    cast-token reference semantics."""
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    native = events.filter(st.predicate("value:[10, 20)")).count()
    tok = F.lower(F.col("value").cast("string")).try_cast("double")
    expected = events.filter((tok >= 10) & (tok < 20)).count()
    assert native == expected


def test_numeric_range_float_rejects_nan_inf(spark):
    df = spark.createDataFrame(
        [(1, 10.0), (2, float("nan")), (3, float("inf")), (4, 50.0), (5, None)],
        "id int, v double",
    ).withColumn("ts", F.timestamp_millis(F.col("id") * 1000))
    st = SearchTable.from_typed(df, {"v": "keyword"}, ts_col="ts", rid_col="id")
    # NaN/Inf tokens never match a numeric range (`pattern/pattern.go:294-296`)
    ids = sorted(r["id"] for r in st.search("v:[0, *]").select("id").collect())
    assert ids == [1, 4]


def test_tokens_at_rest_no_retokenize(spark, documents, tmp_path):
    """Persisted __tok_* columns are reused: the query plan over a
    tokens-at-rest table contains no split() (VERDICT r2 top-next)."""
    docs = documents.withColumn("ts", F.timestamp_millis(F.col("doc_id") * 1000))
    m = {"text": "text", "lang": "keyword", "doc_id": "keyword"}
    path = str(tmp_path / "docs_tok")
    materialize_tokens(docs, m).write.parquet(path)
    at_rest = spark.read.parquet(path)
    st = SearchTable.from_typed(at_rest, m, ts_col="ts", rid_col="doc_id")
    df = st.search('text:"table scan"')
    assert "split(" not in physical_plan(df)
    # identical result to the lazy-tokenizing path
    lazy = SearchTable.from_typed(docs, m, ts_col="ts", rid_col="doc_id")
    assert df.count() == lazy.search('text:"table scan"').count()
    # hidden columns never leak into results
    assert not [c for c in df.columns if c.startswith("__tok_")]


def test_time_range_reaches_pushed_filters(events, tmp_path):
    """from_ms/to_ms compile to bare ts comparisons that reach the Parquet
    scan — a unix_millis(ts) wrapper would block pushdown and scan every
    row group at 100 TB. Bounds stay inclusive at ms granularity."""
    path = str(tmp_path / "ev")
    events.write.parquet(path)
    pq = events.sparkSession.read.parquet(path)
    st = SearchTable.from_typed(pq, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    import datetime

    rows = pq.select("ts").orderBy("ts").limit(50).collect()
    ms = lambda r: int(r["ts"].replace(tzinfo=datetime.timezone.utc).timestamp() * 1000)
    lo, hi = ms(rows[10]), ms(rows[40])
    df = st._filtered(st.parse("*"), from_ms=lo, to_ms=hi)
    plan = physical_plan(df)
    assert "GreaterThanOrEqual(ts" in plan and "LessThan(ts" in plan
    assert "unix_millis" not in plan
    # inclusive on both ends: the boundary rows are in
    got = {ms(r) for r in df.select("ts").collect()}
    assert lo in got and hi in got
    assert min(got) >= lo and max(got) <= hi


def test_pagination_uses_native_offset(events):
    """offset+size compiles to one TakeOrderedAndProject(limit, offset) —
    no row_number window, no single-partition stage."""
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    plan = physical_plan(st.search("*", size=100, offset=300, order="asc"))
    assert "TakeOrderedAndProject" in plan and "offset=300" in plan
    assert "Window" not in plan


# --------------------------------------------------------- keyset pagination


def test_search_after_matches_offset_pages(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    page1 = st.search("*", size=50, order="asc").select("ts", "event_id").collect()
    import datetime

    last = page1[-1]
    last_ms = int(
        last["ts"].replace(tzinfo=datetime.timezone.utc).timestamp() * 1000
    )
    keyset = st.search_after(
        "*", last_ts_ms=last_ms, last_rid=last["event_id"], size=50, order="asc"
    ).select("event_id")
    offset = st.search("*", size=50, offset=50, order="asc").select("event_id")
    assert [r[0] for r in keyset.collect()] == [r[0] for r in offset.collect()]


def test_search_after_desc(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    page1 = st.search("*", size=30, order="desc").select("ts", "event_id").collect()
    import datetime

    last = page1[-1]
    last_ms = int(
        last["ts"].replace(tzinfo=datetime.timezone.utc).timestamp() * 1000
    )
    keyset = st.search_after(
        "*", last_ts_ms=last_ms, last_rid=last["event_id"], size=30, order="desc"
    )
    offset = st.search("*", size=30, offset=30, order="desc")
    assert [r["event_id"] for r in keyset.collect()] == [
        r["event_id"] for r in offset.collect()
    ]


# ------------------------------------------------------------- ComplexSearch


def test_complex_search_single_scan(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    res = st.complex_search(
        "event_type:click",
        size=10,
        with_total=True,
        hist_interval_ms=7 * 86400000,
        aggs=[
            AggQuery(func="count", field="event_type"),
            AggQuery(func="avg", field="value", group_by="event_type"),
        ],
    )
    total = res.total_count
    assert total == st.total("event_type:click").collect()[0]["total"]
    assert len(res.docs) == 10
    assert sum(c for _, c in res.histogram_rows) == total
    counts = {r["name"]: r["value"] for r in res.agg_buckets[0]}
    assert counts == {"click": float(total)}
    avg = res.agg_buckets[1][0]
    assert avg["name"] == "click" and avg["value"] > 0


def test_complex_search_requires_something(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    with pytest.raises(ValueError):
        st.complex_search("*", size=0)


# ---------------------------------------------------------------- agg parity


@pytest.fixture(scope="module")
def sparse(spark):
    """group g: a/b/NULL; field v: numeric tokens, an unparsable token, and
    missing values — exercises every NotExists path."""
    rows = [
        # (id, g, v)
        (1, "a", "10"),
        (2, "a", "30"),
        (3, "a", None),      # group present, field missing
        (4, "b", None),      # group whose docs ALL miss the field
        (5, "b", None),
        (6, None, "7"),      # field present, group missing
        (7, None, None),     # both missing
        (8, "c", "oops"),    # unparsable token
    ]
    df = spark.createDataFrame(rows, "id int, g string, v string").withColumn(
        "ts", F.timestamp_millis(F.col("id") * 1000)
    )
    return SearchTable.from_typed(
        df, {"g": "keyword", "v": "keyword", "id": "keyword"}, ts_col="ts", rid_col="id"
    )


def test_agg_sum_notexists_buckets(sparse):
    out = sparse.aggregate(AggQuery(func="sum", field="v", group_by="g"))
    rows = {r["name"]: r for r in out.collect()}
    assert rows["a"]["value"] == 40.0 and rows["a"]["not_exists"] == 1
    # group b only has missing-field docs: bucket exists, value NaN,
    # NotExists = 2 (`frac/processor/aggregator.go:83-87`, `seq/qpr.go:288-290`)
    assert math.isnan(rows["b"]["value"]) and rows["b"]["not_exists"] == 2
    # unparsable-only group: bucket present with zero parsed samples → NaN
    assert math.isnan(rows["c"]["value"]) and rows["c"]["not_exists"] == 0
    assert set(rows) == {"a", "b", "c"}


def test_agg_result_level_not_exists(sparse):
    # field present but group missing → result-level NotExists
    # (`aggregator.go:89-93`)
    ne = sparse.agg_not_exists(AggQuery(func="sum", field="v", group_by="g"))
    assert ne.collect()[0]["not_exists"] == 1
    # count: docs whose group token is missing
    ne2 = sparse.agg_not_exists(AggQuery(func="count", field="g"))
    assert ne2.collect()[0]["not_exists"] == 2


def test_agg_count_legacy_not_exists_bucket(sparse):
    out = sparse.aggregate(AggQuery(func="count", field="g"))
    rows = {r["name"]: r["value"] for r in out.collect()}
    # docs 6 and 7 have no g → legacy bucket (`aggregator.go:219-227`)
    assert rows["_not_exists"] == 2.0
    assert rows["a"] == 3.0 and rows["b"] == 2.0 and rows["c"] == 1.0


def test_agg_strict_parse_raises(sparse):
    with pytest.raises(AggParseError, match="oops"):
        sparse.aggregate(
            AggQuery(func="sum", field="v", group_by="g"), strict=True
        )
    # default mode skips the unparsable token (pinned divergence)
    out = sparse.aggregate(AggQuery(func="sum", field="v", group_by="g"))
    assert out.count() == 3


def test_agg_bucket_ordering(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    # default: value DESC then name ASC (`seq/qpr.go:216-253`)
    out = st.aggregate(AggQuery(func="count", field="event_type")).collect()
    vals = [r["value"] for r in out]
    assert vals == sorted(vals, reverse=True)
    # min: value ASC
    out_min = st.aggregate(
        AggQuery(func="min", field="value", group_by="event_type")
    ).collect()
    vals_min = [r["value"] for r in out_min]
    assert vals_min == sorted(vals_min)
    # quantile: name ASC
    out_q = st.aggregate(
        AggQuery(func="quantile", field="value", group_by="event_type", quantiles=[0.5])
    ).collect()
    names = [r["name"] for r in out_q]
    assert names == sorted(names)


def test_agg_guard_enforced_inside_aggregate(events, caps):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    caps(st, group=5)
    with pytest.raises(TooManyUniqValuesError):
        st.aggregate(AggQuery(func="count", field="user_id"))
    # under the limit passes
    st.aggregate(AggQuery(func="count", field="event_type"))


def test_agg_request_validation(events):
    """validate_agg parity with `proxyapi/grpc_v1.go:356-399`."""
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    with pytest.raises(ValueError, match="group_by"):
        st.aggregate(AggQuery(func="count"))
    with pytest.raises(ValueError, match="field"):
        st.aggregate(AggQuery(func="sum"))
    with pytest.raises(ValueError, match="at least one quantile"):
        st.aggregate(AggQuery(func="quantile", field="value"))
    with pytest.raises(ValueError, match="between 0 and 1"):
        st.aggregate(AggQuery(func="quantile", field="value", quantiles=[1.5]))
    with pytest.raises(ValueError, match="unknown agg func"):
        st.aggregate(AggQuery(func="median", field="value"))


def test_partial_indexing_truncates_keyword(spark):
    from seqspark.tokenize import keyword_tokens

    df = spark.createDataFrame([("A" * 100,), ("ok",)], "v string")
    strict = df.select(keyword_tokens(F.col("v")).alias("t")).collect()
    partial = df.select(
        keyword_tokens(F.col("v"), partial_indexing=True).alias("t")
    ).collect()
    assert strict[0]["t"] == [] and strict[1]["t"] == ["ok"]
    assert partial[0]["t"] == ["a" * 72] and partial[1]["t"] == ["ok"]


def test_restarted_session_reads_store(spark, tmp_path):
    """'Restarted' leg of the reference's Active/Sealed/Restarted parity
    (`tests/suites/single.go:96-120`): a fresh session (new catalog/conf
    over the same files) sees identical results."""
    import json as _json

    from seqspark import Mapping
    from seqspark.ingest import ingest_docs
    from seqspark.store import DocStore

    m = Mapping({"service": "keyword", "message": "text"})
    BIG = 10**15
    frame = ingest_docs(
        spark.createDataFrame(
            [(_json.dumps({"timestamp": "2024-01-01 10:00:00.000",
                           "service": "auth", "message": "hello"}),)],
            "raw string",
        ),
        m, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    DocStore(spark, str(tmp_path / "s")).append(frame)
    fresh = spark.newSession()
    store2 = DocStore(fresh, str(tmp_path / "s"))
    st = SearchTable.from_store(store2, m)
    assert st.search("service:auth and message:hello").count() == 1


def test_agg_unique_forbids_interval(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    with pytest.raises(ValueError, match="timeseries"):
        st.aggregate(AggQuery(func="unique", field="event_type", interval_ms=1000))


def test_total_histogram_respect_dedup(spark):
    """total/histogram count each (mid,rid) once on stores with nested child
    rows, like search does (ADVICE r2: `seq/qpr.go` removeRepetitions)."""
    rows = [(1, 1000, "a"), (1, 1000, "a"), (2, 2000, "b")]  # duplicated id
    df = spark.createDataFrame(rows, "rid long, mid long, s string").withColumn(
        "ts", F.timestamp_millis(F.col("mid"))
    )
    st = SearchTable.from_typed(df, {"s": "keyword"}, ts_col="ts", rid_col="rid")
    st.default_dedup = ["mid", "rid"]
    assert st.search("*").count() == 2
    assert st.total("*").collect()[0]["total"] == 2
    assert st.histogram("*", interval_ms=1000).agg(F.sum("cnt")).collect()[0][0] == 2


# --------------------------------------------------------- status / mapping


def test_status_and_mapping_endpoints(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    s = st.status()
    assert s["docs"] == events.count()
    assert s["oldest_ms"] <= s["newest_ms"]
    assert s["fields"]["event_type"] == "keyword"
    assert s["fields"]["props"] == "text"


def test_explain_trace(events):
    st = SearchTable.from_typed(events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id")
    trace = st.explain("event_type:click and value:[10, *]")
    assert trace.startswith("Query: ")
    assert "AST: " in trace
    assert "Physical Plan" in trace
    assert "PushedFilters" in trace


def test_mapping_dict_multitype(spark):
    df = spark.createDataFrame([(1, "x")], "id int, m string").withColumn(
        "ts", F.timestamp_millis(F.col("id"))
    )
    st = SearchTable.from_typed(
        df,
        {"m": {"types": [{"type": "text"}, {"title": "keyword", "type": "keyword"}]}},
        ts_col="ts",
    )
    assert st.mapping_dict()["m"] == {"type": "text", "titles": {"keyword": "keyword"}}


# ------------------------------------------------------ multi-type sub-fields


def test_from_typed_multitype_subfield(spark):
    """`message` indexed as text + `message.keyword` sub-field on a typed
    table (`tests/integration_tests/integration_test.go:1773-1860`)."""
    rows = [(1, "Hello World"), (2, "hello there"), (3, "other text")]
    df = spark.createDataFrame(rows, "id int, message string").withColumn(
        "ts", F.timestamp_millis(F.col("id") * 1000)
    )
    st = SearchTable.from_typed(
        df,
        {
            "message": {
                "types": [
                    {"type": "text"},
                    {"title": "keyword", "type": "keyword"},
                ]
            },
            "id": "keyword",
        },
        ts_col="ts",
        rid_col="id",
    )
    # text semantics on the bare name: token match
    assert st.search("message:hello").count() == 2
    # keyword semantics on the sub-field: whole-value match only
    assert st.search('message.keyword:"hello world"').count() == 1
    assert st.search("message.keyword:hello").count() == 0
    # wildcard over the whole value
    assert st.search("message.keyword:hello*").count() == 2

def test_bucket_order_nan_below_neg_infinity(spark):
    # Go's cmp.Compare orders NaN STRICTLY below -Inf (`seq/qpr.go:216-253`
    # sortBuckets); a genuine -Infinity bucket must not tie with NaN ones
    rows = [
        (None, "nanb", float("nan")),
        (None, "neg", float("-inf")),
        (None, "pos", 1.0),
        (None, "nana", float("nan")),
    ]
    df = spark.createDataFrame(rows, "mid_ms long, name string, value double")
    # default: value DESC → pos, -inf, then the NaN group last (name asc)
    names = [r["name"] for r in
             df.orderBy(*SearchTable.bucket_order_cols("sum")).collect()]
    assert names == ["pos", "neg", "nana", "nanb"]
    # min: value ASC → NaN group FIRST (below -inf), then -inf, then pos
    names = [r["name"] for r in
             df.orderBy(*SearchTable.bucket_order_cols("min")).collect()]
    assert names == ["nana", "nanb", "neg", "pos"]


def test_bucket_sort_key_matches_order_buckets(spark):
    """The fused aggregate sorts buckets driver-side with
    `_bucket_sort_key`; it must order EXACTLY like the Spark-side
    `bucket_order_cols` (`seq/qpr.go:216-253` sortBuckets) for every
    func, including the NaN-below--Inf and NULL edge cases."""
    import random

    rng = random.Random(42)
    specials = [float("nan"), float("-inf"), float("inf"), 0.0, -1.5]
    rows = []
    for i in range(60):
        mid = rng.choice([None, 0, 60_000, 120_000])
        name = rng.choice([None, "a", "b", "aa", f"g{i % 7}"])
        value = rng.choice(specials + [float(rng.randint(-5, 5))])
        rows.append((mid, name, value))
    df = spark.createDataFrame(rows, "mid_ms long, name string, value double")

    def canon(r):
        v = r["value"]
        return (r["mid_ms"], r["name"], "nan" if v is not None and math.isnan(v) else v)

    for func in ("sum", "min", "quantile", "count"):
        spark_order = [canon(r) for r in
                       df.orderBy(*SearchTable.bucket_order_cols(func)).collect()]
        key = SearchTable._bucket_sort_key(func, ["mid_ms", "name", "value"])
        py_order = [canon(Row(mid_ms=m, name=n, value=v)) for m, n, v in
                    sorted(rows, key=key)]
        assert py_order == spark_order, f"divergence for func={func}"


def test_complex_search_persists_nothing(spark, events):
    # complex_search answers total, histogram and every agg (timeseries
    # included) from one fused job: no persisted RDD appears, and the
    # driver-side results need no release
    st = SearchTable.from_typed(
        events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id"
    )
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    res = st.complex_search(
        size=5,
        with_total=True,
        hist_interval_ms=3_600_000,
        aggs=[
            AggQuery(func="sum", field="value", group_by="event_type"),
            AggQuery(func="count", field="event_type"),
            AggQuery(
                func="sum", field="value", group_by="event_type",
                interval_ms=3_600_000,
            ),
        ],
    )
    assert len(res.docs) == 5 and len(res.agg_buckets) == 3
    assert jsc.getPersistentRDDs().size() == before
    assert not hasattr(res, "unpersist")


def test_agg_field_token_guard(events, caps):
    # `--agg-max-field-tokens` (`cmd/seq-db/flags.go:67`,
    # `frac/processor/eval_tree.go:78-85` MaxFieldTokens): a field agg over
    # a high-cardinality token column fails fast instead of running unbounded
    st = SearchTable.from_typed(
        events, EVENTS_MAPPING, ts_col="ts", rid_col="event_id"
    )
    caps(st, field=5)
    with pytest.raises(TooManyUniqValuesError, match="agg-max-field-tokens"):
        st.aggregate(
            AggQuery(func="min", field="user_id", group_by="event_type"))
    # no-group field agg is guarded too
    with pytest.raises(TooManyUniqValuesError):
        st.aggregate(AggQuery(func="sum", field="user_id"))
    # 0 disables the limit (reference flag semantics)
    caps(st, field=0)
    st.aggregate(AggQuery(func="sum", field="user_id"))
    # count/unique use the GROUP guard only, never the field guard
    caps(st, field=1)
    st.aggregate(AggQuery(func="count", field="event_type"))

def test_max_token_size_exposed_through_from_typed(spark):
    # reference bench runs `--max-token-size=1024`
    # (`benchmarks/docker-compose-seqdb.yml`): a 100-char token must be
    # indexed under size=1024 and dropped under the default 72
    long_tok = "x" * 100
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", f"start {long_tok} end"), (2, "2024-01-01 00:00:01", "short words")],
        "id long, ts_s string, msg string",
    ).withColumn("ts", F.to_timestamp(F.col("ts_s")))
    mk = lambda size: SearchTable.from_typed(
        df, {"msg": "text"}, ts_col="ts", rid_col="id", max_token_size=size
    )
    assert mk(1024).search(f"msg:{long_tok}").count() == 1
    assert mk(72).search(f"msg:{long_tok}").count() == 0
    assert mk(72).search("msg:start").count() == 1  # siblings survive


def test_keyword_token_cap_in_from_typed(spark):
    long_val = "k" * 100
    df = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", long_val), (2, "2024-01-01 00:00:01", "small")],
        "id long, ts_s string, svc string",
    ).withColumn("ts", F.to_timestamp(F.col("ts_s")))
    st = SearchTable.from_typed(df, {"svc": "keyword"}, ts_col="ts", rid_col="id")
    # over-cap literal compiles to FALSE: the value was never indexed
    assert st.search(f"svc:{long_val}").count() == 0
    # wildcard must not match the unindexed over-cap value either
    assert st.search("svc:k*").count() == 0
    assert st.search("svc:small").count() == 1
    # under a raised cap both match
    st2 = SearchTable.from_typed(
        df, {"svc": "keyword"}, ts_col="ts", rid_col="id", max_token_size=1024
    )
    assert st2.search(f"svc:{long_val}").count() == 1
    assert st2.search("svc:k*").count() == 1
    # --partial-indexing truncates instead of dropping
    st3 = SearchTable.from_typed(
        df, {"svc": "keyword"}, ts_col="ts", rid_col="id", partial_indexing=True
    )
    assert st3.search(f"svc:{'k' * 72}").count() == 1  # the truncation
    assert st3.search(f"svc:{long_val}").count() == 0  # full value gone


def test_agg_parse_matches_reference_parsenum(spark):
    # r12: __val accepts exactly what parseNum accepts
    # (`frac/processor/aggregator.go:150-157`: Go ParseFloat decimal AND
    # finite). A bare try_cast was looser — ' 5' contributed a trimmed
    # 5.0 and 'Infinity'/'nan' poisoned sums with non-finite doubles.
    import math

    from pyspark.sql import functions as F

    rows = [
        (0, "g", "1.5"), (1, "g", " 5"), (2, "g", "Infinity"),
        (3, "g", "nan"), (4, "g", "1e309"), (5, "g", "2.5"),
        (6, "g", None), (7, "h", "Infinity"),
    ]
    df = spark.createDataFrame(rows, "i long, g string, v string").withColumn(
        "ts", F.timestamp_millis(F.col("i"))
    )
    st = SearchTable.from_typed(
        df, {"g": "keyword", "v": "keyword"}, ts_col="ts", rid_col="i"
    )
    out = {r["name"]: (r["value"], r["not_exists"]) for r in
           st.aggregate(AggQuery(func="sum", field="v", group_by="g")).collect()}
    # skip mode: only 1.5 and 2.5 are parseNum-parsable; the missing-v doc
    # counts as not_exists; 'h' has rows but zero parsed samples -> NaN
    assert out["g"][0] == 4.0 and out["g"][1] == 1
    assert math.isnan(out["h"][0]) and out["h"][1] == 0
    # strict mode: the reference ALWAYS fails on these (parseNum error)
    with pytest.raises(AggParseError):
        st.aggregate(AggQuery(func="sum", field="v", group_by="g"),
                     strict=True)
    # min/max must not see +-Inf either
    mx = {r["name"]: r["value"] for r in
          st.aggregate(AggQuery(func="max", field="v", group_by="g")).collect()}
    assert mx["g"] == 2.5
