"""Materialized inverted-index tests (SURVEY §7.2): build, persist,
token-AND lookup, semi-join fetch, and plan shape."""

import pytest
from pyspark.sql import functions as F

from seqspark.engine import materialize_tokens
from seqspark.index import (
    build_inverted_index,
    matching_ids,
    search_tokens,
    write_inverted_index,
)


@pytest.fixture(scope="module")
def docs(spark):
    from seqspark.data import load_table

    return load_table(spark, "/root/testdata/sf0.001", "documents").cache()


@pytest.fixture(scope="module")
def index_df(docs):
    tok = materialize_tokens(docs, {"text": "text"})
    return build_inverted_index(tok, {"text": "__tok_text"}, id_cols=["doc_id"]).cache()


def test_index_matches_token_scan(docs, index_df):
    """Index-routed token-AND equals the array_contains scan path."""
    via_index = search_tokens(docs, index_df, "text", ["table", "scan"], ["doc_id"])
    toks = F.split(F.lower(F.col("text")), r"[^\p{L}\p{N}_*]+")
    direct = docs.filter(
        F.array_contains(toks, "table") & F.array_contains(toks, "scan")
    )
    assert sorted(r["doc_id"] for r in via_index.collect()) == sorted(
        r["doc_id"] for r in direct.collect()
    )


def test_index_single_token(docs, index_df):
    ids = matching_ids(index_df, "text", ["parquet"], ["doc_id"])
    toks = F.split(F.lower(F.col("text")), r"[^\p{L}\p{N}_*]+")
    direct = docs.filter(F.array_contains(toks, "parquet"))
    assert ids.count() == direct.count()


def test_index_dedups_repeated_tokens(spark):
    df = spark.createDataFrame(
        [(1, ["a", "a", "b"]), (2, ["b"])], "id long, toks array<string>"
    )
    idx = build_inverted_index(df, {"f": "toks"}, id_cols=["id"])
    # doc 1 appears once per distinct token, not once per occurrence
    assert idx.filter((F.col("token") == "a") & (F.col("id") == 1)).count() == 1
    assert idx.count() == 3


def test_index_requires_all_tokens(spark):
    df = spark.createDataFrame(
        [(1, ["x", "y"]), (2, ["x"]), (3, ["y"])], "id long, toks array<string>"
    )
    idx = build_inverted_index(df, {"f": "toks"}, id_cols=["id"])
    ids = [r["id"] for r in matching_ids(idx, "f", ["x", "y"], ["id"]).collect()]
    assert ids == [1]


def test_attach_index_routes_and_matches(spark, docs, index_df):
    """SearchTable.attach_index prefilters token-AND queries through the
    index (LeftSemi in the plan) with results identical to the scan path —
    including queries the index can only partially cover."""
    from seqspark import SearchTable

    m = {"text": "text", "lang": "keyword", "doc_id": "keyword"}
    d = docs.withColumn("ts", F.timestamp_millis(F.col("doc_id") * 1000))
    plain = SearchTable.from_typed(d, m, ts_col="ts", rid_col="doc_id")
    routed = SearchTable.from_typed(d, m, ts_col="ts", rid_col="doc_id").attach_index(
        index_df, ["text"], ["doc_id"]
    )
    for q in (
        'text:"table scan"',                       # pure token AND → routed
        "text:scan and lang:en",                   # partial coverage → routed
        "text:scan or lang:en",                    # OR → not routable
        "not text:scan",                           # NOT → not routable
        "text:sc*n",                               # wildcard → routed (dict narrowing)
        "text:sc*n and text:table",                # mixed exact + wildcard
        "text:in(scan, tab*)",                     # in() → routed OR union
        "text:scan or text:table",                 # covered OR → routed union
        "text:scan or lang:fr",                    # lang uncovered → not routable
    ):
        assert routed.search(q).count() == plain.search(q).count(), q
    plan = routed.search('text:"table scan"')._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    # wildcard routing pushes the literal prefix into the index scan
    # (dictionary narrowing, `pattern/pattern.go:110-121`)
    planw = routed.search("text:sc*n")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in planw and "StartsWith" in planw
    # in() routes as one index union
    plani = routed.search("text:in(scan, tab*)")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plani
    # non-routable queries take the plain path
    for nq in ("not text:scan", "text:scan or lang:fr"):
        plan2 = routed.search(nq)._jdf.queryExecution().executedPlan().toString()
        assert "LeftSemi" not in plan2, nq


def test_selectivity_routing_rare_vs_hot(spark):
    """With IndexStats attached, a RARE token routes through the index
    (LeftSemi) while a stop-word-grade token stays on the scan path — the
    dictionary-narrowing heuristic of `pattern/pattern.go:50-64`. Results
    are identical either way."""
    from seqspark import SearchTable
    from seqspark.index import collect_index_stats

    n = 200
    rows = [
        (i, ("the common words here" if i else "the zyzzyx relic"), "en")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    d = df.withColumn("ts", F.timestamp_millis(F.col("doc_id") * 1000))
    m = {"text": "text", "lang": "keyword", "doc_id": "keyword"}
    tok = materialize_tokens(d, {"text": "text"})
    idx = build_inverted_index(tok, {"text": "__tok_text"}, id_cols=["doc_id"]).cache()
    stats = collect_index_stats(idx, total_docs=n, top_k=100)
    # full vocabulary listed → exact ratios, floor 0
    assert stats.ratio("text", "the") == 1.0
    assert stats.ratio("text", "zyzzyx") == 1 / n
    assert stats.floor == 0.0
    # truncated hot list: unlisted tokens fall back to the truncation floor
    # (an upper bound) — with only 3 entries the floor is stop-word-grade,
    # so routing stays conservatively off
    trunc = collect_index_stats(idx, total_docs=n, top_k=3)
    assert trunc.ratio("text", "zyzzyx") == trunc.floor > 0.9

    st = SearchTable.from_typed(d, m, ts_col="ts", rid_col="doc_id").attach_index(
        idx, ["text"], ["doc_id"], stats=stats, max_selectivity=0.1
    )

    def plan(q):
        return st.search(q)._jdf.queryExecution().executedPlan().toString()

    # rare token → index semi-join
    assert "LeftSemi" in plan("text:zyzzyx")
    # hot token (match-all-ish) → plain scan, no join
    assert "LeftSemi" not in plan("text:the")
    # mixed AND: only the rare conjunct routes; results stay correct
    assert "LeftSemi" in plan("text:zyzzyx and text:the")
    assert st.search("text:zyzzyx and text:the").count() == 1
    assert st.search("text:the").count() == n
    # covered OR of two hot tokens → not routed; of rare tokens → routed
    assert "LeftSemi" not in plan("text:the or text:common")
    assert "LeftSemi" in plan("text:zyzzyx or text:relic")
    # prefixless wildcard is an unbounded dictionary scan → not routed
    assert "LeftSemi" not in plan("text:*yzzy*")
    # prefixed wildcard still narrows → routed
    assert "LeftSemi" in plan("text:zyz*")
    # without stats: everything routes (back-compat)
    st_all = SearchTable.from_typed(d, m, ts_col="ts", rid_col="doc_id").attach_index(
        idx, ["text"], ["doc_id"]
    )
    assert "LeftSemi" in st_all.search("text:the")._jdf.queryExecution().executedPlan().toString()


def test_stats_driven_broadcast_semi_join(spark):
    """The stats routing extends to JOIN STRATEGY (r14): when the stats
    upper-bound on the posting id set is within ``broadcast_max_docs``,
    the semi-join is broadcast-hinted — the corpus side never shuffles on
    the id. Measured motivation in BASELINE.md (×1/×10/×100: the plain
    semi-join's marginal cost grew faster than the column scan's).
    autoBroadcastJoinThreshold is disabled around the pins so the HINT,
    not the optimizer's size estimate, is what's proven."""
    from seqspark import SearchTable
    from seqspark.index import collect_index_stats

    n = 200
    rows = [
        (i,
         ("needle niche text" if i < 10
          else "the common words here"),
         "en")
        for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    d = df.withColumn("ts", F.timestamp_millis(F.col("doc_id") * 1000))
    m = {"text": "text", "lang": "keyword", "doc_id": "keyword"}
    tok = materialize_tokens(d, {"text": "text"})
    idx = build_inverted_index(
        tok, {"text": "__tok_text"}, id_cols=["doc_id"]).cache()
    stats = collect_index_stats(idx, total_docs=n, top_k=100)

    def table(**kw):
        return SearchTable.from_typed(
            d, m, ts_col="ts", rid_col="doc_id"
        ).attach_index(idx, ["text"], ["doc_id"], stats=stats,
                       max_selectivity=0.1, **kw)

    def plan(st, q):
        return st.search(q)._jdf.queryExecution().executedPlan().toString()

    thr = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(thr)
    spark.conf.set(thr, "-1")
    try:
        st = table()
        # est = 10/200 * 200 = 10 docs <= 200k -> broadcast semi-join
        p = plan(st, "text:needle")
        assert "LeftSemi" in p and "BroadcastHashJoin" in p, p
        # covered OR of two rare tokens: ratio sum bounds the union
        p = plan(st, "text:needle or text:niche")
        assert "LeftSemi" in p and "BroadcastHashJoin" in p, p
        # r15: prefix WILDCARD — the hot list is the full dictionary
        # (floor == 0), so the prefix-bucket sum bounds the union of
        # matching tokens' postings (needle+niche = 20 docs) -> hinted
        p = plan(st, "text:n*")
        assert "LeftSemi" in p and "BroadcastHashJoin" in p, p
        # wildcard with the cap below the bound -> routed, not hinted
        p = plan(table(broadcast_max_docs=15), "text:n*")
        assert "LeftSemi" in p and "BroadcastHashJoin" not in p, p
        # ...but a narrower prefix (just "niche", 10 docs) fits again
        p = plan(table(broadcast_max_docs=15), "text:ni*")
        assert "LeftSemi" in p and "BroadcastHashJoin" in p, p
        # TRUNCATED stats (top_k reached -> floor > 0): the sub-floor
        # tail under the prefix is unbounded, so the wildcard join must
        # honestly stay unhinted even though listed tokens match
        stats_tr = collect_index_stats(idx, total_docs=n, top_k=2)
        assert stats_tr.floor > 0.0
        assert stats_tr.prefix_bound("text", "n") is None
        st_tr = SearchTable.from_typed(
            d, m, ts_col="ts", rid_col="doc_id"
        ).attach_index(idx, ["text"], ["doc_id"], stats=stats_tr,
                       max_selectivity=0.9)
        p = plan(st_tr, "text:ni*")
        assert "LeftSemi" in p and "BroadcastHashJoin" not in p, p
        # cap below the estimate -> routed, but shuffled (no broadcast)
        p = plan(table(broadcast_max_docs=5), "text:needle")
        assert "LeftSemi" in p and "BroadcastHashJoin" not in p, p
        # 0 disables the hint entirely
        p = plan(table(broadcast_max_docs=0), "text:needle")
        assert "LeftSemi" in p and "BroadcastHashJoin" not in p, p
        # no stats -> no estimate -> no hint (routing itself stays on)
        st_ns = SearchTable.from_typed(
            d, m, ts_col="ts", rid_col="doc_id"
        ).attach_index(idx, ["text"], ["doc_id"])
        p = plan(st_ns, "text:needle")
        assert "LeftSemi" in p and "BroadcastHashJoin" not in p, p
    finally:
        spark.conf.set(thr, old)
    # the hint picks the plan, never the answer
    assert st.search("text:needle").count() == 10
    assert table(broadcast_max_docs=0).search("text:needle").count() == 10
    assert st.search("text:n*").count() == 10
    assert table(broadcast_max_docs=15).search("text:n*").count() == 10


def test_store_index_lifecycle(spark, tmp_path):
    """Per-bucket index co-maintained with the DocStore: refresh after
    ingest, search == direct token scan, prune after retention."""
    import json

    from seqspark import Mapping, SearchTable
    from seqspark.index import StoreIndex
    from seqspark.ingest import ingest_docs
    from seqspark.store import DocStore

    m = Mapping({"service": "keyword", "message": "text"})
    docs = [
        {"timestamp": f"2024-01-0{d} 00:00:00.000", "service": s,
         "message": f"alpha beta {s} d{d}"}
        for d in (1, 2, 3)
        for s in ("auth", "pay")
    ]
    BIG = 10**15
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(x),) for x in docs], "raw string"),
        m, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, str(tmp_path / "store"))
    store.append(frame)
    idx = StoreIndex(
        store, str(tmp_path / "index"),
        {"message": F.col("tokens")["message"]},
    )
    assert len(idx.refresh()) == 3
    got = idx.search("message", ["alpha", "auth"])
    direct = SearchTable.from_docs(store.read(), m).search(
        "message:alpha and message:auth"
    )
    assert got.count() == direct.count() == 3
    # attach_to wires selectivity stats automatically: "alpha" is in every
    # doc (ratio 1.0 > max_selectivity → scan path), "d1" is rare (routed)
    # 6-doc corpus: "d1" is in 2/6 docs (0.33), "alpha" in all (1.0)
    st = idx.attach_to(
        SearchTable.from_docs(store.read(), m), top_k=64, max_selectivity=0.4
    )
    assert st.search("message:d1 and message:auth").count() == direct.filter(
        "1=1"
    ).count() - 2  # d1 exists only in the first day's bucket
    plan = st.search("message:d1")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    plan_hot = st.search("message:alpha")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan_hot
    # retention drops a bucket; prune drops its index
    dropped = store.retain(min_bucket=store.partitions()[1])
    assert idx.prune() == dropped
    assert idx.search("message", ["alpha", "auth"]).count() == 2
    # ...and its stats file, so merged stats reflect only live buckets
    stats = idx.load_stats()
    assert stats is not None and stats.total_docs == 4


def test_store_index_attach_runs_no_spark_jobs(spark, tmp_path):
    """attach_to consumes the stats persisted at refresh() time: no
    full-corpus count, no index aggregation — zero Spark jobs at attach
    (VERDICT r6 #6). Routing decisions are identical to live-collected
    stats."""
    import json

    from seqspark import Mapping, SearchTable
    from seqspark.index import StoreIndex, collect_index_stats
    from seqspark.ingest import ingest_docs
    from seqspark.store import DocStore

    m = Mapping({"service": "keyword", "message": "text"})
    docs = [
        {"timestamp": f"2024-01-0{d} 00:00:00.000", "service": s,
         "message": f"alpha beta {s} d{d}"}
        for d in (1, 2, 3)
        for s in ("auth", "pay")
    ]
    BIG = 10**15
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(x),) for x in docs], "raw string"),
        m, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, str(tmp_path / "store"))
    store.append(frame)
    idx = StoreIndex(
        store, str(tmp_path / "index"),
        {"message": F.col("tokens")["message"]},
    )
    idx.refresh()
    # warm the frames OUTSIDE the probe: parquet partition discovery runs
    # one fixed-cost listing job; what attach must NOT run is corpus-sized
    # work (count / index aggregation)
    idx.read()
    table = SearchTable.from_docs(store.read(), m)
    sc = spark.sparkContext
    group = "attach-probe"
    sc.setJobGroup(group, "attach_to must be metadata-only")
    try:
        st = idx.attach_to(table, max_selectivity=0.4)
        merged = idx.load_stats()
    finally:
        sc.setJobGroup(None, None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # merged metadata stats == live-collected stats (small corpus, no
    # truncation anywhere) → identical routing
    live = collect_index_stats(idx.read(), store.read().count(), top_k=4096)
    assert merged.total_docs == live.total_docs == 6
    assert merged.df == live.df
    plan = st.search("message:d1")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # rare → routed
    plan_hot = st.search("message:alpha")._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" not in plan_hot  # hot → scan


def test_index_persisted_roundtrip_and_plan(spark, docs, index_df, tmp_path):
    """Persisted index: token lookups filter on the token column (pushable),
    fetch is a LeftSemi join — no tokenization anywhere in the query plan."""
    path = str(tmp_path / "inv_index")
    write_inverted_index(index_df, path)
    stored = spark.read.parquet(path)
    out = search_tokens(docs, stored, "text", ["table", "scan"], ["doc_id"])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "split(" not in plan
    direct = search_tokens(docs, index_df, "text", ["table", "scan"], ["doc_id"])
    assert out.count() == direct.count()


def test_index_semi_join_prunes_time_buckets(spark, tmp_path):
    """A time-ranged query on an indexed store must prune the INDEX scan
    by ts_bucket too, not just the doc scan — the index is partitioned by
    the same bucket column precisely so posting reads stay proportional
    to the window, not the corpus."""
    import json

    from seqspark import Mapping
    from seqspark.index import StoreIndex
    from seqspark.ingest import ingest_docs
    from seqspark.store import DocStore

    m = Mapping({"service": "keyword", "message": "text"})
    docs = [
        {"timestamp": f"2024-01-0{d} 00:00:00.000", "service": s,
         "message": f"alpha beta {s} d{d}"}
        for d in (1, 2, 3)
        for s in ("auth", "pay")
    ]
    BIG = 10**15
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(x),) for x in docs], "raw string"),
        m, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, str(tmp_path / "store"))
    store.append(frame)
    idx = StoreIndex(
        store, str(tmp_path / "index"),
        {"message": F.col("tokens")["message"]},
    )
    idx.refresh()
    st = idx.attach_to(store.search_table(m), top_k=64, max_selectivity=0.5)
    f_ms, t_ms = 1704153600000, 1704239999999  # 2024-01-02 only
    out = st.search("message:d2 and message:auth", from_ms=f_ms, to_ms=t_ms)
    assert out.count() == 1
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan  # the index route actually fired
    # BOTH FileScans (docs + index postings) carry ts_bucket bounds
    spans = [i for i in range(len(plan)) if plan.startswith("PartitionFilters", i)]
    bounded = [plan[i : i + 260] for i in spans]
    with_bounds = [w for w in bounded if "2024-01-02" in w and "ts_bucket" in w]
    assert len(with_bounds) >= 2, f"index scan unpruned: {bounded}"


def test_two_phase_prunes_time_buckets(spark, tmp_path):
    """r16 (ADVICE): windowed two_phase_search must push the same
    ts_bucket directory bounds as search() onto the phase-2 fetch (and
    the phase-1 posting scan via the shared helper) — without them a
    1-hour query over a month-old corpus lists every time bucket."""
    import json

    from seqspark import Mapping
    from seqspark.index import StoreIndex
    from seqspark.ingest import ingest_docs
    from seqspark.store import DocStore

    m = Mapping({"service": "keyword", "message": "text"})
    docs = [
        {"timestamp": f"2024-01-0{d} 00:00:00.000", "service": s,
         "message": f"alpha beta {s} d{d}"}
        for d in (1, 2, 3)
        for s in ("auth", "pay")
    ]
    BIG = 10**15
    frame = ingest_docs(
        spark.createDataFrame([(json.dumps(x),) for x in docs], "raw string"),
        m, allowed_drift_ms=BIG, future_drift_ms=BIG,
    )
    store = DocStore(spark, str(tmp_path / "store"))
    store.append(frame)
    idx = StoreIndex(
        store, str(tmp_path / "index"),
        {"message": F.col("tokens")["message"]},
    )
    idx.refresh()
    st = idx.attach_to(store.search_table(m), top_k=64, max_selectivity=0.5)
    f_ms, t_ms = 1704153600000, 1704239999999  # 2024-01-02 only
    out = st.two_phase_search("message:alpha", from_ms=f_ms, to_ms=t_ms,
                              size=10)
    got = {r["raw"] for r in out.collect()}
    want = {r["raw"] for r in st.search(
        "message:alpha", from_ms=f_ms, to_ms=t_ms).collect()}
    assert got == want and len(got) == 2
    plan = out._jdf.queryExecution().executedPlan().toString()
    i = plan.find("PartitionFilters")
    assert i >= 0 and "ts_bucket" in plan[i:i + 260], plan[i:i + 260]
    assert "2024-01-02" in plan[i:i + 260], plan[i:i + 260]


def test_index_report_tool(spark, tmp_path):
    """tools/index_report.py — the cmd/index_analyzer analog: per-bucket
    doc/token/posting stats with cumulative-unique columns and a
    power-of-2 posting-length histogram, verified against hand counts."""
    import sys

    sys.path.insert(0, "tools")
    try:
        from index_report import report
    finally:
        sys.path.pop(0)

    df = spark.createDataFrame(
        [
            # bucket A: token "x" in 3 docs, "y" in 1
            ("A", "f", "x", 1), ("A", "f", "x", 2), ("A", "f", "x", 3),
            ("A", "f", "y", 1),
            # bucket B: "x" again (not new), "zz" new, 2 docs
            ("B", "f", "x", 4), ("B", "f", "zz", 4), ("B", "f", "zz", 5),
        ],
        "ts_bucket string, field string, token string, mid long",
    )
    path = str(tmp_path / "idx")
    df.write.partitionBy("ts_bucket").parquet(path)
    rep = report(spark, path)
    a, b = rep["buckets"]
    assert (a["ts_bucket"], a["docs"], a["tokens"], a["lids"]) == ("A", 3, 2, 4)
    assert (b["ts_bucket"], b["docs"], b["tokens"], b["lids"]) == ("B", 2, 2, 3)
    assert a["uniq_tokens_sum"] == 2          # x, y
    assert b["uniq_tokens_sum"] == 3          # + zz (x not recounted)
    assert b["docs_sum"] == 5 and b["tokens_sum"] == 4
    assert a["token_size"] == 4 and b["token_size"] == 5  # x+x+x+y; x+zz+zz
    assert b["uniq_token_size_sum"] == 4      # x(1) + y(1) + zz(2)
    # posting lengths: A has [3 (x), 1 (y)] → buckets {4:1, 1:1};
    # B has [1 (x), 2 (zz)] → {1:1, 2:1}
    assert rep["lids_histogram"]["A"] == {4: 1, 1: 1}
    assert rep["lids_histogram"]["B"] == {1: 1, 2: 1}


def test_two_phase_search_parity_and_strictness(spark):
    """r15: two_phase_search (posting-only id page -> bloomed id fetch,
    the reference's search->fetch pair) must return EXACTLY what
    search() returns — same rows, same order — for every fully-covered
    query shape, window, order and offset; and must refuse the cases
    that would silently change results."""
    from seqspark import SearchTable
    from seqspark.index import collect_index_stats

    n = 300
    words = ["alpha", "beta", "gamma", "delta"]
    rows = []
    for i in range(n):
        rows.append((
            1_700_000_000_000 + (i * 7919) % 86_400_000,  # mid (ms)
            i,                                            # rid
            f"{words[i % 4]} {words[(i * 3) % 4]} tail{i % 50}",
            ("even" if i % 2 == 0 else "odd"),
        ))
    df = spark.createDataFrame(
        rows, "mid long, rid long, text string, kind string"
    ).withColumn("ts", F.timestamp_millis(F.col("mid")))
    m = {"text": "text", "kind": "keyword"}
    tok = materialize_tokens(df, {"text": "text"})
    # keyword fields have no __tok_ array: the posting token is the
    # (already-folded) value itself
    idx = build_inverted_index(
        tok, {"text": "__tok_text", "kind": F.array(F.col("kind"))},
        id_cols=["mid", "rid"]).cache()
    stats = collect_index_stats(idx, total_docs=n)
    st = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"], stats=stats)

    lo = 1_700_000_000_000
    shapes = [
        ("text:alpha", None, None, 10, 0, "desc"),
        ("text:alpha", None, None, 10, 5, "asc"),
        ("text:alpha and text:gamma", None, None, 50, 0, "desc"),
        ("text:tail7", None, None, 100, 0, "asc"),
        ("text:ta*", None, None, 25, 3, "desc"),
        ("text:in(alpha, beta)", None, None, 30, 0, "desc"),
        ("kind:even and text:alpha", lo, lo + 43_200_000, 20, 0, "desc"),
        ("text:alpha", lo + 1000, lo + 80_000_000, 15, 2, "asc"),
        # r16: residual conjuncts — covered phase 1 + full-predicate
        # re-filter with page refill must still match search() exactly
        ("text:alpha and not text:beta", None, None, 10, 0, "desc"),
        ("text:alpha and not text:gamma", None, None, 60, 5, "asc"),
        ("text:alpha and not text:nosuch", lo, lo + 43_200_000, 20, 0,
         "desc"),
        ("text:beta and (kind:even or text:tail7)", None, None, 15, 0,
         "asc"),
    ]
    for q, f_ms, t_ms, size, off, order in shapes:
        want = [tuple(r) for r in st.search(
            q, from_ms=f_ms, to_ms=t_ms, size=size, offset=off,
            order=order).select("mid", "rid").collect()]
        got = [tuple(r) for r in st.two_phase_search(
            q, from_ms=f_ms, to_ms=t_ms, size=size, offset=off,
            order=order).select("mid", "rid").collect()]
        assert got == want, (q, f_ms, t_ms, size, off, order)

    # pipes ride along like search()
    cols = st.two_phase_search("text:alpha | fields rid, kind",
                               size=5).columns
    assert cols == ["rid", "kind"]

    # r16: keyset cursor (after=) — full cursor walks must equal
    # search_after page-for-page, in both orders, incl. residuals
    for q, order in (("text:alpha", "desc"), ("text:alpha", "asc"),
                     ("text:alpha and not text:beta", "desc")):
        cursor = None
        for _page in range(4):
            kw = {} if cursor is None else {
                "last_ts_ms": cursor[0], "last_rid": cursor[1]}
            want = [tuple(r) for r in st.search_after(
                q, size=7, order=order, **kw
            ).select("mid", "rid").collect()]
            tkw = {} if cursor is None else {"after": cursor}
            got = [tuple(r) for r in st.two_phase_search(
                q, size=7, order=order, **tkw
            ).select("mid", "rid").collect()]
            assert got == want, (q, order, cursor)
            if not want:
                break
            cursor = want[-1]
    with pytest.raises(ValueError, match="mutually exclusive"):
        st.two_phase_search("text:alpha", size=5, offset=2,
                            after=(1, 2))

    # strictness: each of these would silently change results
    with pytest.raises(ValueError, match="no index-covered conjunct"):
        st.two_phase_search("*", size=5)
    with pytest.raises(ValueError, match="no index-covered conjunct"):
        st.two_phase_search("not text:beta", size=5)
    with pytest.raises(ValueError, match="bounded"):
        st.two_phase_search("text:alpha", size=100_001)
    st_plain = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True)
    with pytest.raises(ValueError, match="attach_index"):
        st_plain.two_phase_search("text:alpha", size=5)
    # rid-less index id_cols
    idx_doc = build_inverted_index(
        tok, {"text": "__tok_text"}, id_cols=["mid"])
    st_bad = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx_doc, ["text"], ["mid"])
    with pytest.raises(ValueError, match="must include rid_col"):
        st_bad.two_phase_search("text:alpha", size=5)
    # an index whose id order disagrees with the (mid, rid) search
    # order would TakeOrder phase 1 by the wrong key and silently
    # return a different page than search() — raises, window or not
    # (r16, was a silent windowless divergence before)
    idx_rid = build_inverted_index(
        tok, {"text": "__tok_text"}, id_cols=["rid", "mid"])
    st_rid = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx_rid, ["text"], ["rid", "mid"])
    with pytest.raises(ValueError, match="must be \\('mid'"):
        st_rid.two_phase_search("text:alpha", from_ms=lo, size=5)
    with pytest.raises(ValueError, match="must be \\('mid'"):
        st_rid.two_phase_search("text:alpha", size=5)
    # a default_dedup coarser than the id dedups the full match set in
    # search() but only the page here — underfilled pages, so it raises
    st_coarse = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"])
    st_coarse.default_dedup = ["kind"]
    with pytest.raises(ValueError, match="coarser"):
        st_coarse.two_phase_search("text:alpha", size=5)
    # ...but a dedup key at least as fine as the id is allowed
    st_fine = SearchTable.from_typed(
        df, m, ts_col="ts", rid_col="rid", assume_folded=True,
    ).attach_index(idx, ["text", "kind"], ["mid", "rid"])
    st_fine.default_dedup = ["mid", "rid"]
    got = [tuple(r) for r in st_fine.two_phase_search(
        "text:alpha", size=10).select("mid", "rid").collect()]
    want = [tuple(r) for r in st_fine.search(
        "text:alpha", size=10).select("mid", "rid").collect()]
    assert got == want


def test_two_phase_fetch_plan_shape(spark, tmp_path):
    """r15/r16: the two-phase fetch's id page must reach the parquet
    scan as a per-value In (PushedFilters — the bloom/dictionary probe
    shape), and the final page must be a TakeOrderedAndProject. r16:
    the operator OWNS the In-threshold conf — this test pins the
    session conf at Spark's DEFAULT (10, below the 15-id page) and the
    push must still be per-value, because two_phase_search raises the
    threshold itself; before r16 this degraded to a min/max range that
    random ids never prune (the whole row-group-skipping win gone).
    The table must be parquet-backed (an in-memory frame has nothing
    to push)."""
    from seqspark import SearchTable

    n = 120
    rows = [(1_700_000_000_000 + i * 1000, i,
             ("alpha beta" if i % 6 == 0 else "beta gamma"))
            for i in range(n)]
    spark.createDataFrame(rows, "mid long, rid long, text string"
                          ).withColumn(
        "ts", F.timestamp_millis(F.col("mid"))
    ).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    tok = materialize_tokens(df, {"text": "text"})
    idx = build_inverted_index(tok, {"text": "__tok_text"},
                               id_cols=["mid", "rid"])
    st = SearchTable.from_typed(
        df, {"text": "text"}, ts_col="ts", rid_col="rid",
        assume_folded=True,
    ).attach_index(idx, ["text"], ["mid", "rid"])
    thr = "spark.sql.parquet.pushdown.inFilterThreshold"
    old = spark.conf.get(thr)
    spark.conf.set(thr, "10")  # Spark's default — below the 15-id page
    try:
        out = st.two_phase_search("text:alpha", size=15)
        # the operator must have raised the session threshold to cover
        # its own page — self-sufficiency, no deployment folklore
        assert int(spark.conf.get(thr)) >= 15
        plan = out._jdf.queryExecution().executedPlan().toString()
        i = plan.find("PushedFilters")
        assert i >= 0 and "In(rid" in plan[i:i + 300], plan[i:i + 300]
        assert "TakeOrderedAndProject" in plan
        assert out.count() == 15
    finally:
        spark.conf.set(thr, old)


def test_two_phase_conf_ownership_knob(spark, tmp_path):
    """r17 (ADVICE): ``own_in_filter_threshold = False`` opts out of the
    sticky session-conf raise — results identical, conf untouched — for
    deployments that manage the In threshold themselves. Also pins that
    attach_index() returns a new table that samples avg_doc_bytes anew."""
    from seqspark import SearchTable

    rows = [(1_700_000_000_000 + i * 1000, i,
             ("alpha beta" if i % 6 == 0 else "beta gamma"))
            for i in range(120)]
    spark.createDataFrame(rows, "mid long, rid long, text string"
                          ).withColumn(
        "ts", F.timestamp_millis(F.col("mid"))
    ).write.parquet(str(tmp_path / "t"))
    df = spark.read.parquet(str(tmp_path / "t"))
    tok = materialize_tokens(df, {"text": "text"})
    idx = build_inverted_index(tok, {"text": "__tok_text"},
                               id_cols=["mid", "rid"])
    st = SearchTable.from_typed(
        df, {"text": "text"}, ts_col="ts", rid_col="rid",
        assume_folded=True,
    ).attach_index(idx, ["text"], ["mid", "rid"])
    thr = "spark.sql.parquet.pushdown.inFilterThreshold"
    old = spark.conf.get(thr)
    spark.conf.set(thr, "10")
    try:
        st.own_in_filter_threshold = False
        out = st.two_phase_search("text:alpha", size=15)
        assert spark.conf.get(thr) == "10"  # untouched
        assert out.count() == 15
    finally:
        spark.conf.set(thr, old)
    # a re-attach is a new table with its own width memo; the receiver
    # keeps its sample
    width = st.avg_doc_bytes()
    st2 = st.attach_index(idx, ["text"], ["mid", "rid"])
    assert st2 is not st and st2._avg_doc_bytes_cache == ()
    assert st2.avg_doc_bytes() == width  # re-samples from footers
    assert st._avg_doc_bytes_cache == (width,)


def test_incremental_refresh_rebuilds_only_stale_buckets(spark, tmp_path):
    """r16: the index manifest records the store files each bucket was
    built from, which makes refresh incremental — a maintenance pass
    rebuilds O(appended buckets), not the whole index (the 100 TB
    seal-time cadence). A compaction (same rows, new files) is
    detected."""
    import json

    from seqspark import Mapping
    from seqspark.index import StoreIndex
    from seqspark.ingest import ingest_docs
    from seqspark.store import DocStore

    m = Mapping({"service": "keyword", "message": "text"})
    BIG = 10**15

    def frame(day, msg):
        docs = [{"timestamp": f"2024-01-0{day} 00:00:00.000",
                 "service": "auth", "message": msg}]
        return ingest_docs(
            spark.createDataFrame([(json.dumps(x),) for x in docs],
                                  "raw string"),
            m, allowed_drift_ms=BIG, future_drift_ms=BIG)

    store = DocStore(spark, str(tmp_path / "store"))
    for d in (1, 2, 3):
        store.append(frame(d, f"alpha d{d}"))
    idx = StoreIndex(store, str(tmp_path / "index"),
                     {"message": F.col("tokens")["message"]})
    idx.refresh()
    assert idx.stale_buckets() == []
    # append into ONE bucket: only it reports stale and only it rebuilds
    store.append(frame(2, "alpha extra"))
    stale = idx.stale_buckets()
    assert len(stale) == 1 and stale[0].startswith("2024-01-02")
    done = idx.refresh_stale()
    assert done == stale and idx.stale_buckets() == []
    # the rebuilt index serves the new doc
    st = idx.attach_to(store.search_table(m))
    assert st.search("message:extra").count() == 1
    assert st.search("message:alpha").count() == 4
    # compaction rewrites files without changing rows: the built-from
    # files differ
    if store.maintain(max_files_per_partition=1):
        assert idx.stale_buckets() != []
        idx.refresh_stale()
        assert idx.stale_buckets() == []
