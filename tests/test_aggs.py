"""Aggregation semantics vs the DuckDB oracle
(reference `frac/processor/aggregator.go`, integration cases at
`tests/integration_tests/integration_test.go:666,751,923`)."""

import math

from pyspark.sql import functions as F

from seqspark import AggQuery


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_count_by_group(events_table, duck):
    got = rows(events_table.aggregate(AggQuery(func="count", field="event_type")), "name", "value")
    want = sorted(
        (g, float(c))
        for g, c in duck.execute(
            "SELECT lower(event_type), count(*) FROM events GROUP BY 1"
        ).fetchall()
    )
    assert got == want


def test_unique(events_table, duck):
    got = rows(events_table.aggregate(AggQuery(func="unique", field="event_type")), "name")
    want = sorted(
        (g,) for (g,) in duck.execute("SELECT DISTINCT lower(event_type) FROM events").fetchall()
    )
    assert got == want


def test_min_max_sum_avg_by_group(events_table, duck):
    for fn in ("min", "max", "sum", "avg"):
        got = rows(
            events_table.aggregate(AggQuery(func=fn, field="value", group_by="event_type")),
            "name",
            "value",
        )
        want = sorted(
            (g, float(v))
            for g, v in duck.execute(
                f"SELECT lower(event_type), {fn}(value) FROM events GROUP BY 1"
            ).fetchall()
        )
        for (gn, gv), (wn, wv) in zip(got, want):
            assert gn == wn
            assert math.isclose(gv, wv, rel_tol=1e-9)


def test_agg_with_filter(events_table, duck):
    got = rows(
        events_table.aggregate(AggQuery(func="sum", field="value", group_by="event_type"), q="value:[10, *]"),
        "name",
        "value",
    )
    want = sorted(
        (g, float(v))
        for g, v in duck.execute(
            "SELECT lower(event_type), sum(value) FROM events WHERE value>=10 GROUP BY 1"
        ).fetchall()
    )
    for (gn, gv), (wn, wv) in zip(got, want):
        assert gn == wn and math.isclose(gv, wv, rel_tol=1e-9)


def test_quantile_close_to_exact(events_table, duck):
    df = events_table.aggregate(AggQuery(func="quantile", field="value", quantiles=[0.5, 0.9]))
    r = df.collect()[0]
    exact = duck.execute(
        "SELECT quantile_cont(value, 0.5), quantile_cont(value, 0.9) FROM events"
    ).fetchone()
    # reference quantiles are reservoir-sampled approximations
    # (`seq/qpr.go:316-415`); compare with tolerance per SURVEY §7.3.4
    assert abs(r["q0"] - exact[0]) / max(exact[0], 1) < 0.05
    assert abs(r["q1"] - exact[1]) / max(exact[1], 1) < 0.05


def test_timeseries_count(events_table, duck):
    week = 7 * 86400000
    got = rows(
        events_table.aggregate(AggQuery(func="count", field="event_type", interval_ms=week)),
        "mid_ms",
        "name",
        "value",
    )
    want = sorted(
        (m, g, float(c))
        for m, g, c in duck.execute(
            f"SELECT epoch_ms(ts) - epoch_ms(ts)%{week}, lower(event_type), count(*)"
            " FROM events GROUP BY 1,2"
        ).fetchall()
    )
    assert got == want


def test_histogram(events_table, duck):
    day = 86400000
    got = rows(events_table.histogram("event_type:click", interval_ms=day), "bucket_ms", "cnt")
    want = sorted(
        (b, c)
        for b, c in duck.execute(
            f"SELECT epoch_ms(ts) - epoch_ms(ts)%{day}, count(*) FROM events"
            " WHERE lower(event_type)='click' GROUP BY 1"
        ).fetchall()
    )
    assert got == want


def test_with_total(events_table, duck):
    got = events_table.total("event_type:click").collect()[0][0]
    want = duck.execute("SELECT count(*) FROM events WHERE lower(event_type)='click'").fetchone()[0]
    assert got == want


def test_group_guard_ignores_not_exists_bucket(spark, caps):
    """The group-cardinality guard counts REAL group tokens: a field with
    exactly AGG_MAX_GROUP_TOKENS values plus missing-field docs (which add
    the synthetic `_not_exists` bucket) must pass, not fail by one."""
    import pytest

    from seqspark import AggQuery, SearchTable, TooManyUniqValuesError

    rows = [(i, f"2024-01-01 10:00:{i % 60:02d}", f"g{i % 3}") for i in range(9)]
    rows += [(100, "2024-01-01 10:01:00", None)]  # missing group field
    df = spark.createDataFrame(rows, "event_id long, t string, grp string").select(
        "event_id", F.to_timestamp("t").alias("ts"), "grp"
    )
    st = SearchTable.from_typed(
        df, {"grp": "keyword", "event_id": "keyword"},
        ts_col="ts", rid_col="event_id",
    )
    # 3 real groups + _not_exists: cap of exactly 3 must pass...
    caps(st, group=3)
    out = st.aggregate(AggQuery(func="count", field="grp"))
    names = {r["name"] for r in out.collect()}
    assert names == {"g0", "g1", "g2", "_not_exists"}
    # ...and the timeseries path agrees
    out_ts = st.aggregate(
        AggQuery(func="count", field="grp", interval_ms=60_000))
    assert out_ts.count() >= 4
    # a cap of 2 still fails (3 real groups)
    caps(st, group=2)
    with pytest.raises(TooManyUniqValuesError):
        st.aggregate(AggQuery(func="count", field="grp"))


def test_agg_scalar_fast_path_respects_token_cap(spark):
    """Over-cap (>72-byte) keyword values were never indexed: the scalar
    agg fast path must send them to the `_not_exists` bucket like the
    token path, not mint a bucket named by the giant string."""
    from seqspark import AggQuery, SearchTable

    big = "x" * 100
    rows = [(1, "2024-01-01 10:00:00", "ok"), (2, "2024-01-01 10:00:01", big)]
    df = spark.createDataFrame(rows, "event_id long, t string, k string").select(
        "event_id", F.to_timestamp("t").alias("ts"), "k"
    )
    st = SearchTable.from_typed(
        df, {"k": "keyword", "event_id": "keyword"},
        ts_col="ts", rid_col="event_id",
    )
    got = {r["name"]: r["value"]
           for r in st.aggregate(AggQuery(func="count", field="k")).collect()}
    assert got == {"ok": 1.0, "_not_exists": 1.0}
    assert big not in got


def test_complex_search_agg_error_persists_nothing(spark, events_table):
    """A malformed agg fails the request with ValueError and leaves no
    persisted RDD behind (the complex path persists nothing at all)."""
    import pytest

    from seqspark import AggQuery

    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    with pytest.raises(ValueError):
        events_table.complex_search(
            q="*", with_total=True,
            aggs=[AggQuery(func="sum", field=None)],  # malformed: no field
        )
    assert jsc.getPersistentRDDs().size() == before


def test_collected_frames_captures_every_aggregate(events_table):
    # bench plan pinning must fingerprint EVERY aggregate a query ran:
    # two aggregates -> the two frames they executed, in order, not the
    # LocalRelations they answer with (r10 verdict: keeping only the last
    # frame would silently half-pin a multi-agg bench query)
    from pyspark.sql.classic.dataframe import DataFrame

    from bench import collected_frames

    collect = DataFrame.collect
    probes = collected_frames(lambda: [
        events_table.aggregate(AggQuery(func="count", field="event_type")),
        events_table.aggregate(
            AggQuery(func="min", field="value", group_by="event_type")),
    ])
    assert len(probes) == 2
    plans = [p._jdf.queryExecution().executedPlan().toString() for p in probes]
    assert all("LocalTableScan" not in pl for pl in plans)
    assert DataFrame.collect is collect  # the spy is gone
