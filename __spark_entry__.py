"""Driver contract for the seqspark engine.

``entry(spark)`` runs the flagship query at sf0.001; ``queries()`` exposes
one callable per implemented operator from SURVEY.md §2 (plus the
LLM-pipeline operators); ``oracle_sql()`` gives the DuckDB-equivalent SQL
for every SQL-expressible entry. Column aliases match between the Spark
side and the SQL side; timestamps are compared as ``epoch_us`` BIGINTs and
floating aggregates are rounded to 3 decimals on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from seqspark import AggQuery, SearchTable
from seqspark.data import load_table

# text-tokenizer separator class (same regex dialect in Spark/RE2)
TOKRE = r"[^\p{L}\p{N}_*]+"

EVENTS_MAPPING = {
    "event_type": "keyword",
    "user_id": "keyword",
    "value": "keyword",
    "event_id": "keyword",
    "props": "text",
}

DOCS_MAPPING = {
    "text": "text",
    "lang": "keyword",
    "source": "keyword",
    "doc_id": "keyword",
}

#: FROZEN BPE merge list — trained once via
#: ``train_bpe(sf0.001 documents, n_merges=48, vocab_k=4000)`` (deterministic:
#: ranking is (count DESC, word ASC), pair choice (count DESC, pair ASC)) and
#: pinned here as literals so queries() and oracle_sql() run the IDENTICAL
#: replace-chain — the deployment shape for a production tokenizer, where the
#: vocabulary is an artifact, not re-learned per query. "\x17" is the
#: end-of-word symbol (rendered "</w>" in output).
BPE_MERGES = [
    ("e", "r"), ("e", "\x17"), ("n", "\x17"), ("o", "r"), ("t", "\x17"),
    ("er", "\x17"), ("o", "w"), ("ow", "\x17"), ("l", "u"), ("i", "n"),
    ("y", "\x17"), ("a", "r"), ("p", "ar"), ("g", "\x17"), ("a", "s"),
    ("h", "\x17"), ("a", "\x17"), ("s", "t"), ("a", "t"), ("a", "n\x17"),
    ("c", "an\x17"), ("s", "can\x17"), ("c", "o"), ("co", "lu"),
    ("colu", "m"), ("colum", "n\x17"), ("d", "ow\x17"), ("in", "dow\x17"),
    ("w", "indow\x17"), ("d", "er\x17"), ("or", "der\x17"), ("or", "t\x17"),
    ("s", "ort\x17"), ("p", "\x17"), ("par", "t\x17"), ("u", "p\x17"),
    ("a", "g"), ("ag", "g\x17"), ("a", "lu"), ("alu", "e\x17"),
    ("v", "alue\x17"), ("in", "e\x17"), ("l", "ine\x17"), ("e", "y\x17"),
    ("k", "ey\x17"), ("i", "n\x17"), ("j", "o"), ("jo", "in\x17"),
]


#: per-(session, sf_dir) memo (r17): SearchTable construction is ~50 ms
#: of py4j on top of load_table's ~100 ms, and most entries build the
#: same two tables. Entries NEVER mutate these shared instances (the
#: index-routing entries build their own via from_typed + attach_index);
#: the table's own prepared-plan cache stays valid because the testdata
#: parquet is immutable. Entries live for the PROCESS lifetime (r18):
#: the weak key never fires because cached tables strongly reference
#: the session — a few tables per session is the intended cost.
import weakref as _weakref

_ST_MEMO: "_weakref.WeakKeyDictionary[SparkSession, dict]" = (
    _weakref.WeakKeyDictionary()
)


def _st_memo(spark: SparkSession, key, build):
    try:
        memo = _ST_MEMO.setdefault(spark, {})
    except TypeError:
        memo = {}
    st = memo.get(key)
    if st is None:
        st = memo[key] = build()
    return st


def _events_table(spark: SparkSession, sf_dir: str) -> SearchTable:
    # assume_folded: the synthetic keyword values are lower-case on disk (as
    # the reference's index guarantees by folding at ingest) — this is the
    # same fast path bench.py runs, so the pushed-down plans are
    # oracle-verified here (VERDICT r2 "What's wrong #6")
    def build():
        ev = load_table(spark, sf_dir, "events")
        return SearchTable.from_typed(
            ev, EVENTS_MAPPING, ts_col="ts", rid_col="event_id",
            assume_folded=True,
        )

    return _st_memo(spark, (sf_dir, "events"), build)


def _docs_table(spark: SparkSession, sf_dir: str) -> SearchTable:
    def build():
        docs = load_table(spark, sf_dir, "documents").withColumn(
            "ts", F.timestamp_millis(F.col("doc_id") * 1000)
        )
        return SearchTable.from_typed(
            docs, DOCS_MAPPING, ts_col="ts", rid_col="doc_id",
            assume_folded=True,
        )

    return _st_memo(spark, (sf_dir, "documents"), build)


def _ev_cols(df: DataFrame) -> DataFrame:
    return df.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "user_id",
        "event_type",
        "value",
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: compound seq-ql filter + top-100 page, newest first."""
    st = _events_table(spark, "/root/testdata/sf0.001")
    return _ev_cols(
        st.search(
            "event_type:in(click, view) and value:[10, *] or event_type:error",
            size=100,
            order="desc",
        )
    )


# --------------------------------------------------------------------------
# queries: name -> callable(spark, sf_dir) -> DataFrame
# --------------------------------------------------------------------------


def _search(q: str, **kw):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return _ev_cols(_events_table(spark, sf_dir).search(q, **kw))

    return run


def q_keyword_eq(spark, sf_dir):
    return _search("event_type:click")(spark, sf_dir)


def q_keyword_eq_native(spark, sf_dir):
    # integral keyword equality: compiles to a bare typed EqualTo
    # (pushable + bloom-skippable on store tables) while keeping
    # string-token semantics — the oracle states those semantics directly
    # user_id:7 exists at every scale factor (sf0.001 caps ids at 14;
    # 42 was vacuous there)
    return _search("user_id:7")(spark, sf_dir)


def q_keyword_wildcard(spark, sf_dir):
    return _search("event_type:c*ck")(spark, sf_dir)


def q_filter_in(spark, sf_dir):
    return _search("event_type:in(click, view)")(spark, sf_dir)


def q_range_numeric(spark, sf_dir):
    return _search("value:[10, 20)")(spark, sf_dir)


def q_legacy_query(spark, sf_dir):
    # legacy dialect (reference `parser/query_parser.go:148` ParseQuery, the
    # default when `use-seq-ql` is absent): uppercase operators, AND binds
    # tighter than OR, `[a TO b]` inclusive range
    return _search(
        "event_type: click OR event_type: view AND value:[10 TO 50]",
        dialect="legacy",
    )(spark, sf_dir)


def q_sessionize(spark, sf_dir):
    # gap-based sessionization: per-user session stats with a 1h gap
    from seqspark.pipeline.sessions import session_stats

    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, "user_id", "ts", gap_ms=3600_000)


def q_sessionize_scalable(spark, sf_dir):
    # EXACT sessionize with bounded window partitions (r11): two-phase
    # per-(actor, 2-day-bucket) windows + summary-level stitch. The
    # oracle is the SAME single-window gap-and-islands SQL as the plain
    # `sessionize` entry — the hash gate itself is the exactness proof.
    from seqspark.pipeline.sessions import sessionize_scalable

    ev = load_table(spark, sf_dir, "events")
    # hot_threshold=66 ~ the median per-user count at sf0.01, so BOTH
    # branches of the hybrid (plain window for cold actors, two-phase
    # for hot) execute and their union must still hash-match the
    # single-window oracle
    s = sessionize_scalable(
        ev, "user_id", "ts", gap_ms=3600_000,
        bucket_ms=2 * 24 * 3600 * 1000, hot_threshold=66,
    )
    ts_ms = F.unix_millis(F.col("ts"))
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_ms).alias("start_ms"),
            F.max(ts_ms).alias("end_ms"),
        )
        .withColumn("duration_ms", F.col("end_ms") - F.col("start_ms"))
    )


def q_sessionize_bucketed(spark, sf_dir):
    # the sessionize skew mitigation (r11): window partitioned by
    # (actor, day bucket) — a mega-actor shards into day slices; the
    # stated semantics delta (sessions split at bucket boundaries,
    # bucket-local seq) is replayed exactly by the oracle's
    # two-key gap-and-islands
    from seqspark.pipeline.sessions import sessionize_bucketed

    ev = load_table(spark, sf_dir, "events")
    out = sessionize_bucketed(
        ev, "user_id", "ts", gap_ms=3600_000, bucket_ms=7 * 24 * 3600 * 1000
    )
    return (
        out.groupBy("user_id", "session_bucket", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(F.unix_millis("ts")).alias("start_ms"),
        )
    )


def q_sessionize_native(spark, sf_dir):
    # the BUILT-IN session_window variant (pure JVM streaming state when
    # run as a stream; identical grouping expression in batch) — 10-min
    # gap per user; end = last event ts, matching the stateful operator
    from seqspark.streaming import sessionize_native

    ev = load_table(spark, sf_dir, "events")
    return sessionize_native(ev, "user_id", "ts", gap_ms=600_000).select(
        "user_id", "session_start_ms", "session_end_ms", "n_events"
    )


def q_sketch_balanced_sample(spark, sf_dir):
    # topic-balanced selection: hyperplane-sketch buckets capped at 5
    # hash-uniform members each — deterministic, oracle-reproducible
    # (literal planes + md5 ranks)
    from seqspark.pipeline.sampling import sketch_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    out = sketch_balanced_sample(emb, per_bucket=5, bits=8, dim=64)
    return out.select("vec_id", "sketch")


def q_ivf_update(spark, sf_dir):
    # one Lloyd step of the IVF coarse-quantizer training (k=4 seeds = the
    # 4 lowest-id vectors): assignment by max cosine, element-wise mean per
    # cell; only k x dim floats cross the driver
    from seqspark.pipeline.ann import ivf_update

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    seeds = [
        list(map(float, r["embedding"]))
        for r in emb.orderBy("vec_id").limit(4).select("embedding").collect()
    ]
    return ivf_update(emb, seeds).select(
        F.col("cell").cast("int").alias("cell"),
        F.col("pos").cast("int").alias("pos"),
        F.round("v", 4).alias("v"),
    )


def q_cap_per_group(spark, sf_dir):
    # deterministic per-group caps: at most 10 docs per source, hash-ranked
    # (sources hold 25 docs at sf0.01, so the cap BINDS on every group —
    # a 40-cap would be a vacuous pass)
    from seqspark.pipeline.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(docs, "doc_id", "source", 10, seed="v1").select(
        "doc_id", "source"
    )


def q_cap_per_group_salted(spark, sf_dir):
    # the r11 skew knob, contract-verified: the hot-only two-stage rank
    # must be EXACTLY the single-stage result, hash-checked through the
    # same window-SQL oracle. n*salt_groups = 12 < the 25 docs per
    # source at sf0.01, so every source is detected hot and the
    # pre-stage genuinely executes (a vacuous no-op would test nothing).
    from seqspark.pipeline.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents")
    return cap_per_group(
        docs, "doc_id", "source", 3, seed="v1", salt_groups=4
    ).select("doc_id", "source")


def q_top_per_group(spark, sf_dir):
    # top-3 events by value per event_type (value DESC, event_id tiebreak)
    from seqspark.pipeline.sampling import top_per_group

    ev = load_table(spark, sf_dir, "events")
    return top_per_group(ev, "event_type", "value", 3, key_col="event_id").select(
        "event_id", "event_type", "value"
    )


def q_heavy_hitters(spark, sf_dir):
    # composition: exact per-language token frequencies -> top-5 tokens per
    # lang (token-frequency heavy hitters; ties break lexicographically)
    from seqspark.pipeline.sampling import top_per_group
    from seqspark.pipeline.textstats import words

    docs = load_table(spark, sf_dir, "documents")
    freq = (
        docs.select("lang", F.explode(words(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return top_per_group(freq, "lang", "cnt", 5, key_col="token")


def q_domain_stats(spark, sf_dir):
    # per-domain URL histogram (blocklists / domain quotas): documents have
    # no URLs, so synthesize two per doc from its columns (like
    # path_prefix_tokens synthesizes paths)
    from seqspark.pipeline.textstats import domain_stats

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "t",
        F.concat(
            F.lit("intro https://"),
            F.col("source"),
            F.lit(".Example.com/"),
            F.col("lang"),
            F.lit(" mid https://cdn.shared.net/a end"),
            # credentials-in-URL: the host, never the userinfo, is the domain
            F.lit(" auth http://user:pw@secure.shared.net/b"),
        ),
    )
    return domain_stats(docs, "doc_id", "t")


def q_stratified_sample(spark, sf_dir):
    # per-stratum deterministic quotas: corpus rebalance by language
    from seqspark.pipeline.sampling import stratified_sample

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        "doc_id",
        "lang",
        {"en": 0.5, "de": 0.2, "zh": 1.0},
        seed="v1",
        default_fraction=0.1,
    ).select("doc_id", "lang")


def _dedup_kernel_subset(docs):
    """Bounded subset for the exact-verification kernels: the first 200 ids
    (where sf0.01 plants near-dups) PLUS every doc whose text is exactly
    duplicated anywhere (where larger SFs plant dups across the full id
    space) — keeps the oracle's crossJoin small at ANY scale factor while
    guaranteeing non-vacuous pairs."""
    dup_texts = (
        docs.groupBy("text")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .select("text")
    )
    return docs.filter(F.col("doc_id") < 200).unionByName(
        docs.join(dup_texts, "text", "left_semi").filter(F.col("doc_id") >= 200)
    )


#: SQL twin of `_dedup_kernel_subset`
_KERNEL_WHERE = (
    "(doc_id < 200 OR text IN "
    "(SELECT text FROM documents GROUP BY text HAVING count(*) > 1))"
)


def q_dup_clusters(spark, sf_dir):
    # connected components over verified jaccard pairs (cluster-level
    # dedup survivor selection): iterative min-label propagation, verified
    # against a DuckDB recursive CTE over the same pair set
    from seqspark.pipeline.dedup import dup_clusters, jaccard_pairs

    docs = _dedup_kernel_subset(load_table(spark, sf_dir, "documents"))
    ids = (
        docs.select(F.col("doc_id").alias("id_a"))
        .crossJoin(docs.select(F.col("doc_id").alias("id_b")))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    pairs = jaccard_pairs(docs, ids, "doc_id", "text", k=3, threshold=0.3)
    return dup_clusters(pairs).select(
        F.col("id").alias("doc_id"), F.col("root").alias("cluster_root")
    )


def q_legacy_range(spark, sf_dir):
    # `{a TO b}` exclusive bounds + NOT (`parser/token_range.go`)
    return _search(
        "NOT event_type:error AND value:{10 TO 50}", dialect="legacy"
    )(spark, sf_dir)


def q_range_open(spark, sf_dir):
    return _search("value:[15, *]")(spark, sf_dir)


def q_range_lexicographic(spark, sf_dir):
    return _search("event_type:[click, error]")(spark, sf_dir)


def q_exists(spark, sf_dir):
    return _search("_exists_:props")(spark, sf_dir)


def q_match_all(spark, sf_dir):
    return _search("*")(spark, sf_dir)


def q_bool_precedence(spark, sf_dir):
    return _search(
        "event_type:click and value:[10, *] or event_type:error and value:[30, *]"
    )(spark, sf_dir)


def q_bool_not(spark, sf_dir):
    return _search("not event_type:click and value:[50, *]")(spark, sf_dir)


def q_comment_strip(spark, sf_dir):
    return _search("event_type:click # this comment is stripped\nor event_type:view")(
        spark, sf_dir
    )


def q_time_range(spark, sf_dir):
    # [2024-01-05 00:00, 2024-01-10 00:00] UTC in unix-ms
    return _search("*", from_ms=1704412800000, to_ms=1704844800000)(spark, sf_dir)


def q_fields_pipe(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    return st.search("* | fields event_id, event_type")


def q_order_limit_desc(spark, sf_dir):
    return _search("*", size=100, order="desc")(spark, sf_dir)


def q_order_limit_asc(spark, sf_dir):
    return _search("*", size=100, order="asc")(spark, sf_dir)


def q_offset_pagination(spark, sf_dir):
    return _search("*", size=200, offset=500, order="asc")(spark, sf_dir)


def q_merge_dedup(spark, sf_dir):
    # replica merge: duplicate the source, dedup on doc id at read
    st = _events_table(spark, sf_dir)
    doubled = st.df.union(st.df)
    st2 = SearchTable(doubled, st.mapping, st.resolver, "ts", "event_id")
    return _ev_cols(st2.search("event_type:error", dedup_cols=["event_id"]))


def q_fetch_by_ids(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    return _ev_cols(st.fetch_ids(list(range(0, 500, 7)), "event_id"))


def q_store_bloom_fetch(spark, sf_dir):
    # store-path equivalence pin for bloom row-group skipping
    # (store.py:380-402): the same fetch-by-ids as `fetch_by_ids`, but
    # read THROUGH a DocStore with a bloom filter on event_id — the rows
    # must equal the plain-parquet oracle exactly, proving the bloom skip
    # never drops a matching row group. Day buckets bound the dir count.
    import hashlib
    import os
    import tempfile

    from seqspark.store import DocStore

    ev = load_table(spark, sf_dir, "events")
    # deterministic per-sf_dir cache: repeated contract runs reuse one
    # store copy instead of leaking a fresh sf-sized table into /tmp
    # every invocation. The sentinel is a CONTENT fingerprint (source
    # parquet paths + sizes + mtimes), not a bare row count — a
    # regenerated dataset at the same path with the same cardinality
    # must invalidate the cached DocStore copy, or the bloom-path
    # contract entry would compare stale store rows against a fresh
    # DuckDB oracle.
    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    base = os.path.join(
        tempfile.gettempdir(), f"seqspark-bloom-entry-{tag}"
    )
    path = base + "/store"
    sentinel = os.path.join(base, "_src")
    src = os.path.join(sf_dir, "events.parquet")
    parts = [src] if os.path.isfile(src) else sorted(
        os.path.join(src, p) for p in os.listdir(src)
        if not p.startswith(("_", "."))
    )
    stamp = hashlib.md5(
        "\n".join(
            f"{p}:{os.path.getsize(p)}:{os.path.getmtime(p)}" for p in parts
        ).encode()
    ).hexdigest()
    store = DocStore(
        spark, path, bucket_fmt="yyyy-MM-dd", bloom_cols=("event_id",)
    )
    if not (
        os.path.exists(sentinel)
        and open(sentinel).read() == stamp
    ):
        import shutil

        shutil.rmtree(base, ignore_errors=True)
        store = DocStore(
            spark, path, bucket_fmt="yyyy-MM-dd", bloom_cols=("event_id",)
        )
        store.append(ev, ts_col="ts")
        with open(sentinel, "w") as f:
            f.write(stamp)
    st = SearchTable.from_typed(
        store.read(),
        EVENTS_MAPPING,
        ts_col="ts",
        rid_col="event_id",
        assume_folded=True,
    )
    return _ev_cols(st.fetch_ids(list(range(0, 500, 7)), "event_id"))


def q_with_total(spark, sf_dir):
    return _events_table(spark, sf_dir).total("event_type:click")


def q_fulltext_and(spark, sf_dir):
    st = _docs_table(spark, sf_dir)
    return st.search('text:"table scan"').select("doc_id", "lang", "source")


def q_fulltext_wildcard(spark, sf_dir):
    st = _docs_table(spark, sf_dir)
    return st.search("text:sc*n").select("doc_id", "source")


def q_agg_count_group(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    out = st.aggregate(AggQuery(func="count", field="event_type"))
    return out.select("name", F.col("value").cast("long").alias("cnt"))


def q_agg_unique(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    return st.aggregate(AggQuery(func="unique", field="event_type")).select("name")


def q_agg_sum_group(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    out = st.aggregate(AggQuery(func="sum", field="value", group_by="event_type"))
    return out.select("name", F.round("value", 3).alias("sum_value"))


def q_agg_min_group(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    out = st.aggregate(AggQuery(func="min", field="value", group_by="event_type"))
    return out.select("name", F.col("value").alias("min_value"))


def q_agg_max_group(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    out = st.aggregate(AggQuery(func="max", field="value", group_by="event_type"))
    return out.select("name", F.col("value").alias("max_value"))


def q_agg_avg_group(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    out = st.aggregate(AggQuery(func="avg", field="value", group_by="event_type"))
    return out.select("name", F.round("value", 3).alias("avg_value"))


def q_agg_filtered(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    out = st.aggregate(
        AggQuery(func="sum", field="value", group_by="event_type"),
        q="value:[10, *] and not event_type:view",
    )
    return out.select("name", F.round("value", 3).alias("sum_value"))


def q_agg_quantile(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    out = st.aggregate(
        AggQuery(
            func="quantile",
            field="value",
            group_by="event_type",
            quantiles=[0.5, 0.9],
            exact_quantiles=True,
        )
    )
    return out.select(
        "name", F.round("q0", 3).alias("p50"), F.round("q1", 3).alias("p90")
    )


def q_agg_timeseries(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    week = 7 * 86400000
    out = st.aggregate(
        AggQuery(func="count", field="event_type", interval_ms=week)
    )
    return out.select(
        "mid_ms", "name", F.col("value").cast("long").alias("cnt")
    )


def q_date_histogram(spark, sf_dir):
    st = _events_table(spark, sf_dir)
    return st.histogram("event_type:error", interval_ms=6 * 3600 * 1000)


def q_notexists_accounting(spark, sf_dir):
    # docs missing the agg field are counted separately
    # (`frac/processor/aggregator.go:77-117`): here, events where the json
    # props lacks 'k2' vs has it
    ev = load_table(spark, sf_dir, "events")
    k2 = F.get_json_object(F.col("props"), "$.k2")
    return (
        ev.select(F.when(k2.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("not_exists"))
        .groupBy("not_exists")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_json_field_extract(spark, sf_dir):
    # ingest-transform building block: JSON field extraction + numeric cast
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").try_cast("long")
    return (
        ev.select(F.col("event_id"), k.alias("k"))
        .filter(F.col("k") >= 50)
    )


def q_auto_mapping_search(spark, sf_dir):
    # --mapping=auto end to end (`cmd/seq-db/seq-db.go:297`,
    # `tests/integration_tests/single_test.go:476` TestIndexingAllFields):
    # raw JSON ingested with NO mapping, every top-level field
    # keyword-indexed under its own name; exact + wildcard search works
    from seqspark import AutoMapping, SearchTable
    from seqspark.ingest import ingest_docs

    ev = load_table(spark, sf_dir, "events")
    raw = ev.select(
        F.to_json(
            F.struct(
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS").alias(
                    "timestamp"
                ),
                F.col("event_id").cast("string").alias("event_id"),
                F.col("event_type"),
                F.col("user_id").cast("string").alias("user_id"),
            )
        ).alias("raw")
    )
    docs = ingest_docs(
        raw,
        AutoMapping(),
        ingest_ts=F.timestamp_millis(F.lit(1704067200000)),
        allowed_drift_ms=1 << 60,
        future_drift_ms=1 << 60,
    )
    st = SearchTable.from_docs(docs, AutoMapping())
    hits = st.search("event_type:click and user_id:1*", size=None)
    return hits.select(
        F.get_json_object("raw", "$.event_id").cast("long").alias("event_id")
    )


def q_ingest_tokenize(spark, sf_dir):
    # text tokenizer parity: exploded (doc_id, token) pairs
    from seqspark.tokenize import text_tokens

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.explode(text_tokens(F.col("text"))).alias("token")
    )


def q_path_prefix_tokens(spark, sf_dir):
    # path tokenizer: every /-prefix of a synthesized /lang/source path
    from seqspark.tokenize import path_tokens

    docs = load_table(spark, sf_dir, "documents")
    path = F.concat(F.lit("/"), F.col("lang"), F.lit("/"), F.col("source"))
    return docs.select("doc_id", F.explode(path_tokens(path)).alias("token"))


def q_ann_batch_topk(spark, sf_dir):
    # exact batched cosine top-5 for three query vectors in one corpus pass
    from seqspark.pipeline.ann import batch_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    corpus = emb.filter(F.col("vec_id") >= 3)
    out = batch_topk(corpus, queries, k=5)
    return out.select("query_id", "vec_id", F.round("score", 4).alias("score"))


def q_gopher_quality(spark, sf_dir):
    # Gopher rule-based quality flags (Rae et al. 2021 A1.1) with
    # fixture-scaled thresholds so both keep outcomes occur
    from seqspark.pipeline.textstats import gopher_filter

    docs = load_table(spark, sf_dir, "documents")
    return gopher_filter(docs, min_words=5, max_words=500).select(
        "doc_id",
        "rule_word_count",
        "rule_mean_word_len",
        "rule_symbol_ratio",
        "rule_alpha_words",
        "rule_required_words",
        "gopher_keep",
    )


def q_gopher_repetition(spark, sf_dir):
    # Gopher repetition rules (Rae et al. 2021 A1.2): dup line/para
    # fractions + top-2-gram and dup-5-gram char fractions (the n-gram
    # family restricted to one member each so the oracle stays tractable;
    # the full 13-rule default is pytest-covered)
    from seqspark.pipeline.textstats import gopher_repetition_filter

    docs = load_table(spark, sf_dir, "documents")
    out = gopher_repetition_filter(
        docs, top_ngram_max={2: 0.20}, dup_ngram_max={5: 0.15}
    )
    return out.select(
        "doc_id",
        F.round("dup_line_frac", 4).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 4).alias("dup_line_char_frac"),
        F.round("dup_para_frac", 4).alias("dup_para_frac"),
        F.round("dup_para_char_frac", 4).alias("dup_para_char_frac"),
        F.round("top_2gram_char_frac", 4).alias("top_2gram_char_frac"),
        F.round("dup_5gram_char_frac", 4).alias("dup_5gram_char_frac"),
        "gopher_rep_keep",
    )


def q_unigram_perplexity(spark, sf_dir):
    # CCNet-style LM quality score: unigram model trained on the corpus
    # itself (vocab_k=100 so OOV hits occur), mean per-token logprob per doc
    from seqspark.pipeline.textstats import train_unigram_lm, unigram_logprob_score

    docs = load_table(spark, sf_dir, "documents")
    lm = train_unigram_lm(docs, vocab_k=100)
    out = unigram_logprob_score(docs, lm, "doc_id")
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("mean_logp", 4).alias("mean_logp"),
    )


def q_dsir_score(spark, sf_dir):
    # DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    # distributions fit on target (lang='en') vs raw (all docs); per-doc
    # log importance ratio. dim=512 so bucket collisions occur and the
    # densified-ratio path is exercised.
    from seqspark.pipeline.textstats import (
        dsir_bucket_counts, dsir_log_ratios, dsir_score)

    docs = load_table(spark, sf_dir, "documents")
    dim = 512
    tc = dsir_bucket_counts(docs.filter(F.col("lang") == "en"), dim=dim)
    rc = dsir_bucket_counts(docs, dim=dim)
    out = dsir_score(docs, dsir_log_ratios(tc, rc, dim=dim), "doc_id", dim=dim)
    return out.select(
        "doc_id",
        F.col("n_grams").cast("long").alias("n_grams"),
        F.round("log_importance", 3).alias("log_importance"),
    )


def q_dsir_resample(spark, sf_dir):
    # Gumbel top-k resampling of the DSIR-scored corpus: k=60 docs drawn
    # without replacement with P ∝ exp(log_importance), seeded md5 Gumbel
    # noise so the draw is deterministic and engine-portable.
    from seqspark.pipeline.textstats import (
        dsir_bucket_counts, dsir_log_ratios, dsir_resample, dsir_score)

    docs = load_table(spark, sf_dir, "documents")
    dim = 512
    tc = dsir_bucket_counts(docs.filter(F.col("lang") == "en"), dim=dim)
    rc = dsir_bucket_counts(docs, dim=dim)
    scored = dsir_score(
        docs, dsir_log_ratios(tc, rc, dim=dim), "doc_id", dim=dim)
    return dsir_resample(scored, "doc_id", 60, seed=7).select(
        "doc_id", "lang", "source")


def q_lang_detect(spark, sf_dir):
    # stopword-vote language ID: the oracle replicates the sequential
    # strictly-greater fold exactly — earliest language among those at
    # the max wins, all-zero votes → 'und'
    from seqspark.pipeline.textstats import detect_lang

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", detect_lang(F.col("text")).alias("lang_guess"))


def q_frame_sample(spark, sf_dir):
    # frame sampling: assets synthesized from the documents table (content
    # = utf-8 text bytes), fake decoder derives n_frames from sha256 —
    # portable, so the uniformly-spaced SELECTION (the Spark-side logic)
    # is hash-checked; the binary frame column is excluded (DuckDB views
    # carry no binaries)
    from seqspark.pipeline.multimodal import sample_frames

    docs = load_table(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("media_type"),
        F.encode("text", "UTF-8").alias("content"),
        F.lit("{}").alias("meta_json"),
    )
    out = sample_frames(assets, n_samples=3, fake=True)
    return out.select("asset_id", "n_frames", "frame_index")


def q_bigram_perplexity(spark, sf_dir):
    # stupid-backoff bigram LM quality score (Brants et al. 2007):
    # trained on the corpus itself with small vocab/bigram caps so the
    # backoff AND OOV paths are both exercised
    from seqspark.pipeline.textstats import (
        bigram_logprob_score, train_bigram_lm)

    docs = load_table(spark, sf_dir, "documents")
    vocab, bi = train_bigram_lm(docs, vocab_k=100, bigram_k=300)
    out = bigram_logprob_score(docs, vocab, bi, "doc_id")
    return out.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.round("mean_logs", 4).alias("mean_logs"),
    )


def q_html_extract(spark, sf_dir):
    # HTML→text extraction: synthetic page per document wrapping the text
    # in boilerplate (style/script with TRAP markup inside, comments,
    # block tags, entities incl. the &amp;amp; double-decode trap); the
    # oracle runs the identical RE2-compatible regexp chain in DuckDB
    from seqspark.pipeline.textstats import html_to_text

    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><head><title>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</title><style>p { color: red; }</style>"
              "<script>var t = \"<p>trap</p>\";</script></head><body><h1>"),
        F.col("source"),
        F.lit(" &amp;amp; co</h1><!-- meta "),
        F.col("lang"),
        F.lit(" --><p>"),
        F.col("text"),
        F.lit("</p><div>tail&nbsp;&lt;"),
        F.col("lang"),
        F.lit("&gt;</div><br/>fin</body></html>"),
    )
    return docs.select(
        "doc_id", html_to_text(html).alias("text_extracted"))


def q_url_canonical(spark, sf_dir):
    # URL canonicalization + URL-level dedup: two messy variants per doc
    # (tracking params / default port / fragment / unsorted params /
    # trailing slash / uppercase VS an already-canonical twin with an
    # offset id) must collapse to ONE row each with the canonical string —
    # every rule is cross-checked because the variants disagree on it
    from seqspark.pipeline.textstats import url_dedup

    docs = load_table(spark, sf_dir, "documents")
    messy = docs.select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://"), F.col("source"), F.lit(".Example.com:443/"),
            F.col("lang"), F.lit("/page"), F.col("doc_id"),
            F.lit("/?utm_source=x&b=2&a=1#frag"),
        ).alias("url"),
    )
    clean_twin = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.com/"),
            F.col("lang"), F.lit("/page"), F.col("doc_id"),
            F.lit("?a=1&b=2"),
        ).alias("url"),
    )
    out = url_dedup(messy.unionByName(clean_twin), "url", "doc_id")
    return out.select("doc_id", "canonical_url")


def q_c4_filter(spark, sf_dir):
    # C4 line/page cleaning over synthesized multi-line pages: line 1 keeps
    # (long + terminal '.'), lines 2-3 drop (short / no punctuation),
    # line 4 varies the brace flag, line 5 varies the lorem flag
    from seqspark.pipeline.textstats import c4_filter

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "t",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(".")),
            F.lit("tiny line."),
            F.lit("this line has no terminal punctuation"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit("curly { brace sentence appears right here today."),
            ).otherwise(F.lit("clean closing sentence for the document.")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.lit("lorem ipsum dolor sit amet line here."),
            ).otherwise(F.lit("regular final line of this document page.")),
        ),
    )
    return c4_filter(docs, "t").select(
        "doc_id", "text_clean", "rule_no_lorem", "rule_no_brace",
        "rule_min_sentences", "c4_keep",
    )


def q_token_budget(spark, sf_dir):
    # per-source token accounting behind mixture weights
    from seqspark.pipeline.textstats import token_budget_report

    docs = load_table(spark, sf_dir, "documents")
    return token_budget_report(docs, "source")


def q_index_hot_tokens(spark, sf_dir):
    # doc-frequency hot list that drives selectivity-based index routing
    # (seqspark.index.collect_index_stats): top-50 (field, token) pairs by
    # doc frequency over the materialized inverted index
    from seqspark.engine import materialize_tokens
    from seqspark.index import build_inverted_index

    docs = load_table(spark, sf_dir, "documents")
    tok = materialize_tokens(docs, {"text": "text"})
    idx = build_inverted_index(tok, {"text": "__tok_text"}, id_cols=["doc_id"])
    return (
        idx.groupBy("field", "token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), "field", "token")
        .limit(50)
    )


def q_timestamp_parse_chain(spark, sf_dir):
    # 3-format fallback chain (`proxy/bulk/processor.go:101-126`) over
    # synthesized doc strings in each format
    from seqspark.ingest import parse_event_time

    ev = load_table(spark, sf_dir, "events")
    es = F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSS")
    rfc = F.date_format(F.col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX")
    raw = F.when(
        F.col("event_id") % 2 == 0,
        F.concat(F.lit('{"timestamp":"'), es, F.lit('"}')),
    ).otherwise(F.concat(F.lit('{"time":"'), rfc, F.lit('"}')))
    return ev.select(
        "event_id", F.unix_micros(parse_event_time(raw)).alias("parsed_us")
    )


def q_doc_size_tracking(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    return ev.select("event_id", F.length("props").alias("doc_size"))


# ---------------------------------------------------------------- pipeline


def q_dedup_exact(spark, sf_dir):
    from seqspark.pipeline.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    with_h = docs.withColumn("h", F.md5(F.col("text")))
    return exact_dedup(with_h, ["h"], "doc_id").select("doc_id", "h")


def q_incremental_dedup(spark, sf_dir):
    # daily-increment corpus build: dedup a NEW batch against the digest
    # set of an already-ingested corpus (docs with id % 4 == 0), then
    # within-batch. The batch plants cross-corpus dupes (% 8 == 0 texts
    # re-labeled +100000) and within-batch dupes (% 4 == 1 re-labeled
    # +200000); only the original % 4 in {1,2,3} rows survive.
    from seqspark.pipeline.dedup import corpus_digests, incremental_dedup

    docs = load_table(spark, sf_dir, "documents")
    seen = corpus_digests(docs.filter(F.col("doc_id") % 4 == 0))
    batch = (
        docs.filter(F.col("doc_id") % 4 != 0)
        .unionByName(
            docs.filter(F.col("doc_id") % 8 == 0)
            .withColumn("doc_id", F.col("doc_id") + F.lit(100000))
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 4 == 1)
            .withColumn("doc_id", F.col("doc_id") + F.lit(200000))
        )
    )
    return incremental_dedup(batch, seen).select(
        "doc_id", F.md5(F.col("text")).alias("h")
    )


def q_paragraph_dedup(spark, sf_dir):
    # corpus-wide exact paragraph dedup (boilerplate removal): documents
    # have no paragraph breaks, so synthesize three paragraphs per doc —
    # its own text, a footer shared by ALL docs (survives only in doc 0),
    # and a per-language closer (survives once per language)
    from seqspark.pipeline.dedup import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.lit("\n\nstandard corpus footer paragraph\n\n"),
            F.col("lang"),
            F.lit(" closing paragraph"),
        ),
    )
    return paragraph_dedup(docs, "doc_id", "t").select(
        "doc_id", F.col("t").alias("text_dedup")
    )


def q_ngram_jaccard(spark, sf_dir):
    # exact 3-gram Jaccard over the bounded kernel subset (verification
    # kernel of the LSH pipeline; bounded so the oracle can cross-join).
    # The subset contains planted pairs at EVERY scale factor — id < 200
    # holds sf0.01's near-dups, the exact-dup-text branch holds larger
    # SFs' pairs (r2's id < 40 returned 0 rows — a vacuous pass)
    from seqspark.pipeline.dedup import jaccard_pairs, shingles

    docs = _dedup_kernel_subset(load_table(spark, sf_dir, "documents"))
    ids = docs.select(F.col("doc_id").alias("id_a")).crossJoin(
        docs.select(F.col("doc_id").alias("id_b"))
    ).filter(F.col("id_a") < F.col("id_b"))
    out = jaccard_pairs(docs, ids, "doc_id", "text", k=3, threshold=0.3)
    return out.select("id_a", "id_b", F.round("jaccard", 3).alias("jaccard"))


def q_minhash_lsh_pairs(spark, sf_dir):
    # hash-green (r10): the portable md5 minhash variant lets DuckDB
    # replicate the ENTIRE pipeline — shingles, 32-permutation signature,
    # 8 band keys, bucket cap, candidate join, exact-Jaccard verify
    from seqspark.pipeline.dedup import jaccard_pairs, minhash_lsh_candidates

    docs = load_table(spark, sf_dir, "documents")
    cands = minhash_lsh_candidates(
        docs, "doc_id", "text", k=3, num_hashes=32, bands=8, portable=True
    )
    return jaccard_pairs(docs, cands, "doc_id", "text", k=3, threshold=0.3).select(
        "id_a", "id_b", F.round("jaccard", 3).alias("jaccard")
    )


def q_incremental_lsh_dupes(spark, sf_dir):
    # hash-green (r10): near-dup increment — batch docs verified (3-gram
    # Jaccard) against a PERSISTED corpus band state plus within-batch;
    # portable md5 minhash so the oracle replicates state + increment.
    # Planted: every doc_id % 10 == 0 corpus text re-enters re-labeled.
    from seqspark.pipeline.dedup import (
        incremental_lsh_candidates,
        jaccard_pairs,
        minhash_band_state,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1).unionByName(
        docs.filter(F.col("doc_id") % 10 == 0)
        .withColumn("doc_id", F.col("doc_id") + F.lit(500000))
    )
    state = minhash_band_state(
        corpus, "doc_id", "text", k=3, num_hashes=32, bands=8, portable=True
    )
    cands = incremental_lsh_candidates(
        batch, state, "doc_id", "text", k=3, num_hashes=32, bands=8, portable=True
    )
    union = corpus.unionByName(batch)
    return jaccard_pairs(union, cands, "doc_id", "text", k=3, threshold=0.3).select(
        "id_a", "id_b", F.round("jaccard", 3).alias("jaccard")
    )


def q_simhash_candidates(spark, sf_dir):
    # hash-green (r10): portable 60-bit md5 SimHash — the oracle rebuilds
    # the fingerprint (per-token hash, 60 bit votes, sign) and the 15-bit
    # band join bit-for-bit
    from seqspark.pipeline.dedup import simhash_candidates

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return simhash_candidates(
        docs, "doc_id", "text", bands=4, portable=True
    ).select("id_a", "id_b")


def q_ann_brute_topk(spark, sf_dir):
    from seqspark.pipeline.ann import brute_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    out = brute_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10)
    return out.select("vec_id", F.round("score", 4).alias("score"))


def q_ann_lsh_topk(spark, sf_dir):
    # hash-green (r10): the hyperplanes are seed-deterministic Gaussians,
    # so the oracle embeds them as literals and rebuilds sketch + band
    # filter + exact cosine top-k (ann.lsh_oracle_sql)
    from seqspark.pipeline.ann import lsh_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).head()["embedding"]
    out = lsh_topk(emb.filter(F.col("vec_id") != 0), list(qv), k=10, bits=12, bands=4)
    return out.select("vec_id", F.round("score", 4).alias("score"))


def q_embedding_cosine_pairs(spark, sf_dir):
    # exact cosine over a bounded id range (oracle cross-joins the same)
    from seqspark.pipeline.ann import cosine

    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine(F.col("va"), F.col("vb")), 4))
        .filter(F.col("cos") >= 0.3)
        .select("id_a", "id_b", "cos")
    )


def q_text_token_count(spark, sf_dir):
    from seqspark.pipeline.textstats import token_count

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count(F.col("text")).cast("long").alias("n_tokens"))


def q_text_quality(spark, sf_dir):
    from seqspark.pipeline.textstats import quality_score, stopword_ratio

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(stopword_ratio(F.col("text")), 4).alias("stopword_ratio"),
        F.round(quality_score(F.col("text")), 4).alias("quality"),
    )


def q_text_fingerprint(spark, sf_dir):
    from seqspark.pipeline.textstats import fingerprint_md5

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint_md5(F.col("text")).alias("fp"))


def q_bpe_encode(spark, sf_dir):
    # subword tokenization with the FROZEN merge list (BPE_MERGES): pure
    # Catalyst replace-chain per word, no UDF/shuffle; the oracle runs the
    # byte-identical chain generated from the same literals
    from seqspark.pipeline.bpe import bpe_encoded

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encoded(docs, BPE_MERGES, id_col="doc_id", text_col="text")


def q_bpe_encode_dict(spark, sf_dir):
    # the SCALABLE encode path (distinct-word dictionary + positional
    # reassembly — the 32k-merge production shape) pinned to the same
    # oracle as the replace-chain: identical output by construction
    from seqspark.pipeline.bpe import bpe_encoded_via_dict

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encoded_via_dict(
        docs, BPE_MERGES, id_col="doc_id", text_col="text",
        dict_mode="driver",
    )


#: frozen expected outputs of the real-codec multimodal kernels
#: over make_real_assets — generated ONCE by
#: tools/gen_multimodal_expected.py and committed; the oracle
#: compares the live Spark pipeline against these, so a kernel
#: regression fails the contract instead of moving the oracle.
MULTIMODAL_DECODE_EXPECTED = [
    (0, 'image', 198, '67d5bb70648e6bcf1902f52193abca057d252f1a0a85a33767e85c377365ca4f', 8, 6, 1),
    (1, 'image', 240, '2769baaacaeb2bff6f51b995c698120bfe3187ada7cc852bcb52821b4a4d6c4b', 9, 7, 1),
    (2, 'image', 288, 'dc0c55b1633eb002ded48501419bf9950c9649dc6b67c5fc7ade5417c7e06959', 10, 8, 1),
    (3, 'audio', 300, '1011300d1284917e5fc9379b0e78589459ca704cc90b6f01469debeedff73afb', 2, 16, 64),
    (4, 'image', 269, '5901b855db891961c23ed9f1762c368063ae542416ffdfbd0b0567ce67517cc8', 12, 6, 1),
    (5, 'image', 224, '7bcf2cff159818db474c9587088c071706218f0a740c5c2db9ab2237db03314a', 8, 7, 1),
    (6, 'image', 262, 'c07d1362689c5e5c3ccd44aa4262ca4f64fec86419b99d93c849cd38f2589f02', 9, 8, 1),
    (7, 'audio', 268, 'd34e03bdc8189a52d284d57bd1d2fd14a8b14f6697525c62f1c702a31892adaa', 2, 16, 56),
    (8, 'image', 252, '4452c2cc206dd19a58c7d1a8dab1aeaf604691ab6ec83e717c2c5bc64f713870', 11, 6, 1),
    (9, 'image', 295, '9389f02d6fc1cd50669675505ccd0abee3fab8f233a00b48ee644174c6adb621', 12, 7, 1),
    (10, 'image', 246, '230fda5953c07f0377aa5847981c0f5c919fd6eb2b64990f9308402bbd2e1eab', 8, 8, 1),
    (11, 'audio', 236, '82aa48f3d4afbd7651a460e9ce48163810d440ff545723aa7bef4450f276d77d', 2, 16, 48),
    (12, 'image', 235, '0db073a413a2d034acdbd5da5527ea41fa452df23948b4ceee14e05b63cb5fbb', 10, 6, 1),
    (13, 'image', 276, '1b99e2c7adc0c108aa443fd757e63ee48e61305205738d858905a33c708a7294', 11, 7, 1),
    (14, 'image', 327, '54b7106ad167a5ab426736a8767e529f15d60b0d321dbaa41d0c667304768deb', 12, 8, 1),
    (15, 'audio', 204, 'd34c027e45fe47ee65e62d8d2d63ab2ec4c9a95eba3d18cf4d1734a0b1d44b40', 2, 16, 40),
    (16, 'image', 215, 'f0a42fb37617dc17cf916fc8a6a2c8be47e1ef859d054e74c645b740105dac67', 9, 6, 1),
    (17, 'image', 266, '8f3d682f129ace167a0011cf744d63c4a2783375dd8b03fa6bedce1355770f1c', 10, 7, 1),
    (18, 'image', 308, '8226301f1fe58fbce21fcffdca4c83e2af6d1f9288ae61edae79281866f7642d', 11, 8, 1),
    (19, 'audio', 332, 'b2e91c502d39905adf844bc91b695c20cb97602226b0703dbffd82d1b4630430', 2, 16, 72),
    (20, 'image', 205, '60b76c2979605015320b698d7d3f37cda08dfa68af150067dc4f73585535eaed', 8, 6, 1),
    (21, 'image', 243, 'b9ac2b7f6cc35b0ad92cb91a73c9b01e260ce85108b80b82f01b946a5e47417d', 9, 7, 1),
    (22, 'image', 282, '68a20eeb799252229648e6d61d9686a21d812b803a3c382e84c8f11f3f9acd20', 10, 8, 1),
    (23, 'audio', 300, '4f6964c804b353dd161dc97657bfd7eca2dd3129ba15424b84fcc8683ab22f92', 2, 16, 64),
    (24, 'image', 269, '874fd0674c2fcb1d91a901d4a0417237455971fd206c577a60cd5147a90389f3', 12, 6, 1),
    (25, 'image', 226, 'e872fdc99a09a02419969ac3609c3691cc40600a9416c7d4b1d6580b7dea285c', 8, 7, 1),
    (26, 'image', 261, 'f80194301ec6f6a15d46581bcdd15d53fc1b93da41c51d9f7582d23587a7bff5', 9, 8, 1),
    (27, 'audio', 268, '70037c7edb1eec6e0404a56bd3aa8859dc7f24e0537b1c92ec91a887d273e09f', 2, 16, 56),
    (28, 'image', 253, '218c0c3d34d4571cee8d812ee0a2e5ec20842f5273a2c4dda424d45d117edbed', 11, 6, 1),
    (29, 'image', 296, '0d8d07c57c5e52c0aa075134fa63e9d2212d1bac41a10098e6fd5fc0135c2322', 12, 7, 1),
    (30, 'image', 243, '835e9b7114805a4f786e411dfaa83040e41f838bc233770a78e0e3a3feb2d5a0', 8, 8, 1),
    (31, 'audio', 236, 'a58ba23ddaa2c840b8b984d6d085cd0d8b7fd50f69ca2ad28b119e4f22207b6b', 2, 16, 48),
    (32, 'image', 239, 'c04c7bec9a9c96584251ac689483eb7ec8b0eced72155de1092b3c5ff7e618b6', 10, 6, 1),
    (33, 'image', 278, 'b10612ef958c3e1caab9763f11a8d96c37d273df34eb7c6baa7a9d65b952a338', 11, 7, 1),
    (34, 'image', 330, '8d8eaf5bd5c3d823f5a9f02b3a5aedee3a79e2a5e68ab858484101db6c9e8100', 12, 8, 1),
    (35, 'audio', 204, 'd63e5618b41c2e0ff6740ae7158f07e6314d3d820ab86dbabf978223b24f6e9a', 2, 16, 40),
    (36, 'image', 219, '0445c8c3fdc11088aba722dec5ad4ab32a849edd632c2941cd7113533ac9256d', 9, 6, 1),
    (37, 'image', 262, '479d674743bef0d79711b7dfcae4c04b50473341efc7fc6a1842fe0c17212c22', 10, 7, 1),
    (38, 'image', 305, '158086e85084c5a7e2475148db10651a2399633227bd36c6312c4d864771f78e', 11, 8, 1),
    (39, 'audio', 332, '1a4867f91c60117e2025038f0f029cfcaea9a02224faa5af927ec241a47df10f', 2, 16, 72),
    (40, 'image', 207, '8ea82b397f9ace2760ea2810e6f75e45aa4bfbdab72a66a8bd3427778083d9c2', 8, 6, 1),
    (41, 'image', 246, '73a9869b5ad8782723a29f44655fa0bb1e3843881e49ebc6738a0f0026082cf9', 9, 7, 1),
    (42, 'image', 288, '047b3fff35ee47d8a572ba05dfd6bc3b47d79abaf2aff5316399f899222d7c38', 10, 8, 1),
    (43, 'audio', 300, '788fecd6ebfef3d9af5bdca8d04aa679efd2cc05f7ff64313657ec246cd596f7', 2, 16, 64),
    (44, 'image', 268, '49481eafe210a92696ff412ad9fb0e995e38872f5f5b9c15c78061cf9d76afbd', 12, 6, 1),
    (45, 'image', 225, 'f8114b721c102a21d295c3530e4318fc2f77863445b24da1e8856d86a1b07ea5', 8, 7, 1),
    (46, 'image', 264, '822d3eb637d8c720de94d4c28160f927f74a7387ec9f246c1d74ebf1f961dab3', 9, 8, 1),
    (47, 'audio', 268, '4ab7fb2aff5e67b27834149e0d82d7a3ebe6e061fee8738034ded24cfc8a4c25', 2, 16, 56),
    (48, 'image', 249, 'f833206aa170fdc8074f78527e0d1c5cd58bbb18ff210691af7ff1b14bd21c8d', 11, 6, 1),
    (49, 'image', 293, 'e1bbcb1ae771394236fc5b32492e59b5e089b5c6422acb0b7f542edd93636aac', 12, 7, 1),
    (50, 'image', 244, '71956d96d69048ceefff774527feb14e08cd111455d711eba7886d06cd406d92', 8, 8, 1),
    (51, 'audio', 236, '47a8eb08c36afe438024ae1bce86c00cfae6bd4871db5f70127f057368d112c5', 2, 16, 48),
    (52, 'image', 233, '6ad3e49a83d5a6f3f70065e6e2ea5e653c553cb6bb6125bf33bdba415cba333f', 10, 6, 1),
    (53, 'image', 280, 'e98840c58ef4047a05845932dd8a37e28651b954ebfaf3042ae7a6e9a218b3c0', 11, 7, 1),
    (54, 'image', 329, '970b80013b34f4178f859fdf719909d1935083dafce777b464afa69304c36178', 12, 8, 1),
    (55, 'audio', 204, '86797648ef4a763a5fa211dee273e9af27f51719a5213737504f05b5f0f68f97', 2, 16, 40),
    (56, 'image', 220, '8c784b89d17d57ee00f49dcb11bab08478143d15190a1a753a6d6f08edb18d13', 9, 6, 1),
    (57, 'image', 263, '8702b181577253008bbec0c1cd82cab15a5d13324b7825456bce220ce3137a06', 10, 7, 1),
    (58, 'image', 302, '95a956d52535ab83b5a2f2853897973f885b97c77ed27c29f87dbc9c5967f0e2', 11, 8, 1),
    (59, 'audio', 332, 'e9e5ab71332b7a46f832f6f94c1491d8c6265e6fa26aeeb3db18f1ce1fcbbd70', 2, 16, 72),
    (60, 'image', 202, '7693e78cdc448e2cf536a162f344829d58cd04923e16de5c42dedb33e9458105', 8, 6, 1),
    (61, 'image', 244, 'bb040d89a6e15f53fdd621509b20d3eaa1bef9ca6ec69c79c21eea0241b42cec', 9, 7, 1),
    (62, 'image', 278, '9f51ef9529d31a6f8d6febde7e9940c7549ecaad3533accf8b934d0050c358d5', 10, 8, 1),
    (63, 'audio', 300, '6b6a0f609c681f72970967d43f68891ef0b21cd97a4c3529cec5b553155e8af6', 2, 16, 64),
]

MULTIMODAL_RESIZE_EXPECTED = [
    (0, '9b9e81be6cceef262557bea9a787c37cd1359915cb33873ed518f62a94a19f58', 237, 32, 16),
    (1, '449024abbfad4d66db2792294b7df409aa5ea77c569dcc647cd48934862c67cc', 291, 32, 16),
    (2, 'bfbe4bcceda16e1351cda4f673f1b48b596e376b83ea9571b43ac535d7d9fcad', 344, 32, 16),
    (4, 'e3c52078e903e9ccde4fa9712f41fd32ff5cfb77f138dba070c6d2a239d36070', 322, 32, 16),
    (5, '8764371145e8a36effe4469456de37e7b39d82a850c28751174d7d86d6efd41d', 265, 32, 16),
    (6, '6f83bce92800598671fc953022b6c8438c87b1b8c03e2645cc893d53c9dd419c', 316, 32, 16),
    (8, '757ba9e6396c177e3b2c50d0dd4a3f662cc5f411de573e6bc00065b9db0f5d65', 297, 32, 16),
    (9, 'e5d5004808e0d421b70073680f6636fa8e206e45b5fe41f6a311e2f8818ee38a', 356, 32, 16),
    (10, '238b7b3a38691e7fcc79e2909328b3d2d0da9cef75860abf62f13fcd671835a2', 287, 32, 16),
    (12, '717c88c62fb4324ffced4bbf284dcb9a0c008fe0473b009962e4a8bdf5c732df', 280, 32, 16),
    (13, '5305acda1ab1ff83bdef670334ccb76891deba7ad6a53641108a6b10e40ee681', 329, 32, 16),
    (14, '0ba497ee478dd2a40f0285ab7fe7addf02135da29fbd00e6a55a276b5f43786f', 397, 32, 16),
    (16, 'b9869ee5ca0a4d6f51d6fb2e7f517c63cd1e039d9268074b57041c60f9a40292', 262, 32, 16),
    (17, '702aa8575a4d5d6ea25c1a7cca58d0d4b0addcf3ccbf0f9a71916db5e19fac30', 317, 32, 16),
    (18, '7baa5c914a38a6e777c24fb836d172a7a4db67d037138d207c00e8612fc3e578', 367, 32, 16),
    (20, '32f1658023e02a5f3459af51bbf161672387cabfef8adc6960c55cab214f7f04', 239, 32, 16),
    (21, '6ee0d64be480cffbd9ae00e8c00b35090e260149199d95c2d9be4fb3e12a1068', 293, 32, 16),
    (22, '35615f00e77bf3f2338aff5453bb0d8456fc0a35be6ce66cc4a150bd77a60209', 340, 32, 16),
    (24, 'd7bcc647d156c6e81d43de1dced25b8690221577e4c4fe255f65bef4fe44160c', 322, 32, 16),
    (25, 'd72ef20f54447f7fc5024f7a26823ce0a0f5c763e9f84004f4fa85d2e1eba980', 266, 32, 16),
    (26, '9fd062ba7b798c57d20bbcb9dd92b291fad926cbac6b0fb34f3461b0ad18a868', 317, 32, 16),
    (28, '2de8c9ec15203fe67332584e174ba311e03a243fbea2646783e8b5b486b08abf', 298, 32, 16),
    (29, '61200a83e34b16e0658d2b6c034363af85dcc047a831852db7fb24e479768632', 358, 32, 16),
    (30, 'c7a3a2e33e176b7b0899d4a1044baa0f6e3b669863851845d1c7d9a10d800bce', 285, 32, 16),
    (32, '1dfd1b127357c934a1c0d31a45d42e3056bd26cb8f805348a37b016c71e53668', 285, 32, 16),
    (33, 'bd4208b44a6d7826fcf1b4700f564724767280bae612c25b6f37f4ef075461b0', 330, 32, 16),
    (34, '93c576e6b57686c73949a019d1e06128238a543644f7000016adbc5d24079390', 399, 32, 16),
    (36, '0300fac61e27e2cce44d17f356718741c0919c76ef90bda6f232b905790a57fd', 266, 32, 16),
    (37, '60e14af0f667f4336afa6907f773154cc47eb25b10c21ffa43bf14c8e84e9b39', 314, 32, 16),
    (38, '867144926b62caaaf621303e429c0ec87f046eced3622914f64216bce7932d6c', 363, 32, 16),
    (40, '0de9521a8bd172f3eaf068debf31a3959c0e608c1a803b6d02d3fa710e7fa90d', 240, 32, 16),
    (41, 'cd0285ac99e4fc34de653fe55ff0f666dfc242c1960640e8e999a8d52446e758', 295, 32, 16),
    (42, '32f28e5040c7b0223a9a87d6c2867030db1f2d1bbee0015ed2cef33c02b824a8', 343, 32, 16),
    (44, '580c24d5cf93166ece64a4dde4efa867ccfe931f2bdb0b72c5e82f2368cae8e3', 321, 32, 16),
    (45, '5dd9b1425a3936b0b07e2a16f5afc356c465ac4475a4b51e95f8df8246117787', 261, 32, 16),
    (46, '4440e674c0d5687d5a7017a254bf3faa2c678ec22d962d516279cf09cdce0800', 321, 32, 16),
    (48, '2e368fd30ec112584291f8d90736852d9c217abfe28c0aaa9d150173ba4fff74', 295, 32, 16),
    (49, 'df7029449dca880ef148f30decc81141540a1af986f799cc5ccb117f2ede781a', 356, 32, 16),
    (50, '588040dee595ebe6c3b41728e94a3cd925c0665f42712961bd7078e54d7cba74', 285, 32, 16),
    (52, '2b52c8705cccf69f00a04aca8e6b3aaaeae4b757090fb4f3c2293e51a34fe94e', 280, 32, 16),
    (53, '07d4dd3dc46d96d547e2c6f7f00a4c6564ad7a58fae81ea335c33659938c101c', 331, 32, 16),
    (54, '6116eeb2762abb27b1e2a80b1e3c0e28d464f25fe0ab2ca873f1c240f8dd9f53', 399, 32, 16),
    (56, '075b39755ea96877b531a8c162bf1589c9f4389b06ef6c92c1f50e9f507ed0d3', 266, 32, 16),
    (57, 'ebf95796cd92d968d7fb53b7120e3a0bbd61b8528e8b59237bb43bd213c52afe', 314, 32, 16),
    (58, '738c70a9a12758441eee78ee92d94f5970a7a9343df210f6578c234fecd47f69', 358, 32, 16),
    (60, '0a066be8db3f7f101504912a627a795f4d29e3a806fcf082671bcc99bc56ba15', 237, 32, 16),
    (61, 'c802a2b8608b2572fa1cc275fecb2597b55962f8480f9f600cef57e454605cec', 294, 32, 16),
    (62, '046f73dac67c2482aa06ee5298d160c1d6fbc385b6e701690083cd70ec99a210', 336, 32, 16),
]

#: (asset_id, dhash) — audio rows carry None (dhash_images
#: hashes non-decodable payloads to NULL, and NULLs never pair)
IMAGE_DHASH_EXPECTED = [
    (0, 56524518407061696),
    (1, 20486445324058688),
    (2, -5610249112296349664),
    (3, None),
    (4, 12464166896404488),
    (5, 65487672233205920),
    (6, 2623531708667928608),
    (7, None),
    (8, 12534535644776456),
    (9, 7930004751780876),
    (10, -5996392714063017848),
    (11, None),
    (12, 19153647174943748),
    (13, 37335620619895940),
    (14, 4778994589627466306),
    (15, None),
    (16, 39428779030086660),
    (17, 46660566068068737),
    (18, 4883421286287622465),
    (19, None),
    (20, 38722329932562817),
    (21, 56727729428595073),
    (22, -3214649527805853375),
    (23, None),
    (24, 14724762799443984),
    (25, 55389894884769984),
    (26, 7225119949746880576),
    (27, None),
    (28, 17055727455049752),
    (29, 7367037278488584),
    (30, -5416536704614887280),
    (31, None),
    (32, 21400997411162120),
    (33, 38892509552183304),
    (34, -8748624062042569596),
    (35, None),
    (36, 38307156910934024),
    (37, 9647158282289666),
    (38, -4430795969549663614),
    (39, None),
    (40, 39004771276980866),
    (41, 19855058854347266),
    (42, -3196494115860545151),
    (43, None),
    (44, 10451034117841185),
    (45, 46594629730140545),
    (46, -6510646427721301631),
    (47, None),
]


#: (asset_id, n_frames, frame_index, sha256 of the RGBA PNG
#: re-encode of the composited canvas) over real_gif_asset_rows
FRAME_SAMPLE_GIF_EXPECTED = [
    (0, 2, 0, '543941e5fd2baa53dc763324f7bc23027fa57ebf7f698354b7b11a8f3eef5efd'),
    (0, 2, 1, '02536e479d026c596cfda8e4784bf56344fefb331a34de3e3b1df7cdb27f20df'),
    (1, 3, 0, 'f3ad630915dfaa0860ac43ac37e1e80037a090cf52b8c0441e9a2f90fdd331a9'),
    (1, 3, 1, '92127009cccd83d0707b2028ea6fb4984699a34990541486c663aa7094c5acc9'),
    (1, 3, 2, 'a7d740bdd84aa2d0fd8937c40671210ddf93e88f43184364b0ffda13b563f59d'),
    (2, 4, 0, '733d04462416dfcc98f8f415b2234b3a0808a4aa8ffb85a7bd1fa0d02200e1ae'),
    (2, 4, 1, '297a1f5660279a765f5f49da0af9484a3d33ab2e9a6af2386b1a14600d77a630'),
    (2, 4, 2, 'ede857e87477a9d5d79f293a78dd12a08c39b69d0b43cdf0c65fddcf16b688cb'),
    (3, 5, 0, 'abbcc4df6cb68b4d64934a2c93cddbabf0fb43dcaed08327ac0ea712095194f2'),
    (3, 5, 1, 'b0a0b073942115e1cbc574c29ba921ca612e3527461f61ac6071d344cdc76b90'),
    (3, 5, 3, '729b7486e85e3e378e7d829e1b4db2a0d956936a5fbc774032c1a54efbeb0c01'),
    (4, 2, 0, '2bc19880a6a50fd3cce9c111298f316aa029b296fda21d162051a59a6a512f0b'),
    (4, 2, 1, '63bdf6d1d20e6f42bc4544af88682612f60052db938d9449a188d13efe3cc93d'),
    (5, 3, 0, 'ab3353a03068e45c206b1036353c93a5fe74ea7fa9097f36f3ad2ea96ad98a7b'),
    (5, 3, 1, '0774c7539e76451c94adad938d7e4ce6a31ce480d5fb696fe9ae4dd3f30668f3'),
    (5, 3, 2, 'dec4c71ad0bdc40d78ce06f788911acf77bcf867795f2a179a3e79c72528f533'),
    (6, 4, 0, 'ba75991700728a1d7989b2002beafc3596dc7ab0ec41c64ddbbd9f755cab2559'),
    (6, 4, 1, '30a9c20696d7cf2e2334021773bdcf2d1b7a428105e545abd7a326a92cb0049e'),
    (6, 4, 2, '2b1158575a69532088a1e3b8066f467db5f6e5a6ec833dcd149d8ec389e0565c'),
    (7, 5, 0, 'e12ac0494dcd5d836be9d59f63853d20c2b20357f78b42ed1373f1d86f8444f4'),
    (7, 5, 1, '3d70b762cca03576890a00500fa12d989420cb1d2f54ee172c1623932e26d8b0'),
    (7, 5, 3, '431a604dd78a0b29f0581033d267f544a292df8fbef9dfcb624585166c550cf2'),
    (8, 2, 0, 'decc685f6da9222c16cfacd74d8d90f2310b3090ee4c47d01621616bd7966868'),
    (8, 2, 1, 'decc685f6da9222c16cfacd74d8d90f2310b3090ee4c47d01621616bd7966868'),
    (9, 3, 0, 'c3e5a15c28754a962766ebe48f7e8392f115406d81af04cab8f9c51122ed965d'),
    (9, 3, 1, '16ad527312ca54e043ac9195d6971ea3c4fefbfb05664cec25bf3f47781dcd39'),
    (9, 3, 2, 'c732d8a9034a8ccfbb786b0cac18478120141b6d1a90fc6b8846eff934646d95'),
    (10, 4, 0, '4a070fae064f5c162a3a0029b667c8fff587b22caba0b1a22892f6dbdabfcc45'),
    (10, 4, 1, '8e450d7eaf6bf219a8f11019df5c1d2183148536da3adb442f78da12cde1ee16'),
    (10, 4, 2, '7722cd9a5478bcc519e503113875a33607c3682d48408b0246792fab3eaf39eb'),
    (11, 5, 0, '8acb37e3e55c425bec0b0570f13d7a45b7cc84557313a8110345cc6e17bde1a0'),
    (11, 5, 1, 'aa22aeea64228e03f456fa34442d7016e3b2aeff16ced1ce334ea9b30f623042'),
    (11, 5, 3, '661cfb8f47db7b9d7ab8ac9b696849fea507e48b68ebd6cc19f3fc1eccd49e13'),
    (12, 2, 0, '7804cd94c465d7f4b38f37bb8c562676a2f45dfc0aeb7a7f9ed938db5d39a0f0'),
    (12, 2, 1, '5f72b97fb3f42fa361e25be4c39006cee159386290486fd9020c5939da837b50'),
    (13, 3, 0, 'e6626a1575c03a29a09fc1e1d8b4f528ccab38ad2d563ae6fd5185cfc6ed8b3a'),
    (13, 3, 1, '7a1739e6b3c286852aa9a8070adb68f770973871b1d60ce1707ff793e6a78ee0'),
    (13, 3, 2, '51e97318745c4ee0f735d91a9a5794a2a0b4fff94fdf5f45c516291bb3211246'),
    (14, 4, 0, '0a5041edaf3fbb65415b43fb2a13bf4c03fffaaad1615678af4aae9aa05bdcd1'),
    (14, 4, 1, '0a5041edaf3fbb65415b43fb2a13bf4c03fffaaad1615678af4aae9aa05bdcd1'),
    (14, 4, 2, '85e10ad3fa7b0b3627311c177df80c584a538d861256ba879afe84452dd40395'),
    (15, 5, 0, '5381c63c8fefc2e6c1118ef36d1b5962e28f5e09882d9975a82f8fac4b9c813e'),
    (15, 5, 1, 'd9e63acf08515cd2f9a1a94f4eabd3edf09c34addc9a92cc5a4b6759350f699f'),
    (15, 5, 3, 'b4e5a9303cc21d5d68a1866632621ba937d98557ed216417b17886602c50b1ca'),
]


#: same shape over real_apng_asset_rows (stdlib APNG extractor)
FRAME_SAMPLE_APNG_EXPECTED = [
    (0, 2, 0, '36ff20e654b51d4700d535b144ce9859a45981572b420ee355e6ec4f3aecab09'),
    (0, 2, 1, '53964f01208f6a35b6cebeff8e0b8f8526aa072c1c8e796fb7ae3469141d06f1'),
    (1, 3, 0, '128a958eb166db260e20217b4f326d8d29d2263c059cb3f205bf4e92a41d8f43'),
    (1, 3, 1, 'cada00015e353ec556b20a9c5050433633b691eda9215e99d0b8f3f3fea5a9c9'),
    (1, 3, 2, '8d25f92f001f5b619eebf283d34bafb203d09695077d50c7466b549e0be8d279'),
    (2, 4, 0, '7cd5f1db7bc62da717f8d48b2a078a530066a4ecaca2051f1a659143fb239ef9'),
    (2, 4, 1, '21f0dec228b9b9eb0681689cf2bce619599c7adb313e9a3d865ce198e3f8b955'),
    (2, 4, 2, '39978e92ee4dae49c512ec183b24f2329c061d58ac404e605f7c15ac97fd88fc'),
    (3, 2, 0, '70ea16cf8803b75db2c80131055a4a7b22c0b3218274ffa3b358e318ba3aff14'),
    (3, 2, 1, 'f8850c8c728cc48e7dfb2e7b342bbab1a0b901fea96e435c5846b1459c495044'),
    (4, 3, 0, '60a609bdc0af6ebe356b53e7835ba81c0247b7c3527f8275475dfbba2a5cb524'),
    (4, 3, 1, 'fd5ff4fcd5b8fb5c40c08fd39d0e2dadbb1aecf601fdc11a0898315e3e3309fe'),
    (4, 3, 2, '3eed2c0c887d5732ea29463e2db767944b63656b663df8c2b79ecc520776b34a'),
    (5, 4, 0, '478c02600b4775ae8266682cb96752b99d150b102fc63665de94310b92bd23f2'),
    (5, 4, 1, 'd669bcc61a90c593cffccb0a1a6b95ddd4b952a7574b544c1d03c9193267d5a3'),
    (5, 4, 2, '1dee27c47115161fc6fc4f7eb8139f060902d2c68edd67080942c575842b8c66'),
    (6, 2, 0, 'cc7c036b19d99a3c478bf7d2cc89d917bcc604219b28097052753a2b4bf33feb'),
    (6, 2, 1, '01ef0dbf029ddbbdaf7211b96a58c6bcb5a7596a40bd553fdafa5bf5bad1e6f1'),
    (7, 3, 0, 'a904dfd7256073b5a9aa3717d7a0386703d9ad687027be0da615094fa524defe'),
    (7, 3, 1, '0779c4ee9baf5840245849ff06a154d0e87c69e41b93c3a6946cc10399fe6472'),
    (7, 3, 2, '2c73065722c439111359a6177328f5cb9a456968124e366f691c7ead826abfe6'),
    (8, 4, 0, '5a9ba81cf4f46f12c3d479693a5ea74aef2f578d80dd38649f116ea6591f9560'),
    (8, 4, 1, 'edc4d90b5965a240b9beaec9efb2005add599dfd19ebd0493680e28793a3aea7'),
    (8, 4, 2, '2187e7306a62a5fc7de3c76d3e97a32bd03b464f01c2fb2f012bd52547a78137'),
    (9, 2, 0, 'cfa198b2212daa67495764391420fd52b34e6d0b3504441c9d284f75ffa1213b'),
    (9, 2, 1, 'c0f69e5f16ed51e7ea1ae1acf613879aa4282cfb8cda1ec8222a5a5205116b23'),
    (10, 3, 0, '6e856897fc7d3d717c20daef0b16bc9f9015646b3567a92b25f856da8abaf8be'),
    (10, 3, 1, 'df632c5035b204a9144e83382129ad101e2393118ed88315c139a9c403f92ede'),
    (10, 3, 2, '8267133af540240e42e94f9f7435488f00acdcec44b74a9aaa8582552baa1876'),
    (11, 4, 0, 'c9fd536dde5ba0e83f9d07465a1ab4d1c13b5b13fa0cc8922d4d4d97a4f8b175'),
    (11, 4, 1, '196fab6003cb1c7de806bf12e931cd255d0f8b5e2d4dae6b6223bfc7af1666e2'),
    (11, 4, 2, 'c82234f9b28eb0012dfb350f44f41af46084be11d44d96328fe665cf16342740'),
    (12, 2, 0, 'b0d9a6609a88a5cf6b511a2a0b91224b7a1b5ecec760337af2eea1197be6ac8a'),
    (12, 2, 1, '58b08407726e910e08b39dbe50f9d8d740fd2ba8e776700cf934bde6e5cf0ef7'),
    (13, 3, 0, 'dd509c0a0f3efb7ca0afc0b30cf040551ea94e39466d0f88b059791888f63b2a'),
    (13, 3, 1, 'e6590c826c952ae030291ac8493232017115e758db906e244646ef79e2a3409a'),
    (13, 3, 2, '8e5e2a4d1f5ff493d1d072b5bff1a01890e2f0dd391b181ec2e393b19f28a1cc'),
    (14, 4, 0, '8ff7ce1811552e43416177c7cf4d8bfac43dd569121c9e9825161822002fccca'),
    (14, 4, 1, 'd9607a197b53db0e10e2b1c979397081fc7231dafac4624483429ee6df275663'),
    (14, 4, 2, '243290e05084cad01b53aa74802d93c105e26973e5fe312d542246eb491e0b69'),
    (15, 2, 0, '1e0d046c51c27e51162a0fe05fa925ccf08027a227ed50de4e387b5fbd081522'),
    (15, 2, 1, 'cc422559d75790db42aedb9e6debc9cdf1978c34e9a77c7432afa47858a72c79'),
]


#: same shape over real_y4m_asset_rows (stdlib Y4M video
#: decoder; frames are RGB PNG re-encodes)
FRAME_SAMPLE_Y4M_EXPECTED = [
    (0, 2, 0, '821c9ae6c829975055668dfed3363c729f3f857e3789bf56e86a419e56c2b7e5'),
    (0, 2, 1, '7e2505149de72ef3d1fa66f19100559ae71edfcfdf85bdea1d18ac872335c6f0'),
    (1, 3, 0, '6ae4838969e92d39bd68e3f9c4aceed70c789343c7ff443e12644ed4b7b69ae5'),
    (1, 3, 1, 'd4ae7a2223621d352ec48b018bb95087b47560571a74924065555df084859d97'),
    (1, 3, 2, '9b492540e59969cf754a132b2e464e8b2e2234684cbff3827736c0113ded6942'),
    (2, 4, 0, '8ef0df08f0721aafbe9f9c8dc6ad9b73b618b79470847ef641c5d266b2da5bbd'),
    (2, 4, 1, 'e0fe0ef5813e8ed70c074bca59adade84e0bb657e975dace68cbf217ee08c9ee'),
    (2, 4, 2, 'afc5b2a92125d9c0062d3499dc7d69f36a8833956a6718ba80548d4abdf7791d'),
    (3, 5, 0, '307944dd8293517c2c4686b43a7146ffe14c61c1adf0d040d050c6007fd61f9f'),
    (3, 5, 1, '7d4841fe4a6e5c635058cc2855baca68362a6c92c301532aea4fd2384175850e'),
    (3, 5, 3, '247c78fc6c07a754f74db79d6af5855c275eeac6341a90e664e7b08303935bb3'),
    (4, 2, 0, '5ac4c3afd235152cfb8bf30287c9eee9e15a633f03909ec43ce76353f90ceb79'),
    (4, 2, 1, '8d592ac36ee2ab889fcc11340ae5e27d3ff9e2b5ece7bfa45c6c0486c30f7a16'),
    (5, 3, 0, 'ed63e4e666584536052ffe7eff1b608a6d31a0166bca57d7f31d0afa0be55b3e'),
    (5, 3, 1, 'c7fda346a30279094a8168edd1e26ff3ee4a6601d67574d49c2eafd24dca0566'),
    (5, 3, 2, 'fd748ce9ed9deb691ddb054e0cb0a4e40bb534eae85bf8358c2e59dc47a70a73'),
    (6, 4, 0, '5fdce2d79aa218eb5e25f5771a56a4f6e8b9e935756b3c73a2835df08b1bab40'),
    (6, 4, 1, 'e372c7ccaa7b2ccadc63a6673ae2fbed8d36ac0d001f0ff2f5891ca5ffe7130d'),
    (6, 4, 2, '7fb4da43a0e38205f4280d515b9464e9f05bfe23a268adb4726aabc3b0b924c1'),
    (7, 5, 0, 'ad03cddafe3fe1d3818b75b7c0fd2e0125de253899e09b4aaa687159133567aa'),
    (7, 5, 1, 'e0c1a5d978c842e52a123979377722bf5d229b9df54d32847c7c5207a98d837b'),
    (7, 5, 3, '7953301b1d40b9a07af30af1f73cbb6706e4b0884a496be275927270f4885a91'),
    (8, 2, 0, '80f48eb5ae4ca8c28b8e019a3cf06fded355c010aac6e25d54be4ebb20e8dd55'),
    (8, 2, 1, 'c5536fe7bb37096f8179299c5b99c5145972e3af04158a937bd3463b773b0eb0'),
    (9, 3, 0, '82ccccf10dfc28fea587d62a7855d781ccf8994e5698ca4bf7b8b2a7fe3dfda8'),
    (9, 3, 1, '51e0ffe65989252dbe48486b22797a75fc8c76d0bb42a69725a3847b8e6c1ad3'),
    (9, 3, 2, '75c09ca6dfe3b23d9e5f9ae69c5a28a7248a820ee9f5e1a20559251e8462bd38'),
    (10, 4, 0, 'a4cac654e023fefa7a9f9a012fbfc3d4fb3713a173642d4b7fa459970d924c16'),
    (10, 4, 1, 'd016437d59181165500d7052ca03adc64821e7b819145e95cb4f5b5690c5ad9f'),
    (10, 4, 2, 'a6d687ef0ca6eb693b1abe77979a91ff2967b2a0a8925aa7f1f91a5f3db66afb'),
    (11, 5, 0, 'f7dd50f3978af95d00c28d1eee904160b9d1858e9c748ea550733aaf026dd387'),
    (11, 5, 1, '30bd3954429932171b8a70b71f4f198ec89c52f3a34398f017b520568992a595'),
    (11, 5, 3, 'cd28a57b024f6995e838b68ca0054af7c6c678d94391af384c98209bf799c3b8'),
    (12, 2, 0, '72e67f768cbb3242723858720f331a89ce3e2534a250e3608fa9fdd2a7b7adeb'),
    (12, 2, 1, '974c4e63e73e897e126763226f7891b3506113ae0955ebb4bb93f5a28a13ce56'),
    (13, 3, 0, 'f95f1635094bc7967b52713f9dbb7449888e66ac01417986992ac750c5ad7ae2'),
    (13, 3, 1, 'f48713663101ce0c18cbc05204e85c82b21bd3af75683826883fa5db8cf3edfa'),
    (13, 3, 2, 'c75011a87dc0c1a4048ff4d5816b4a2950eede07a5fa9c58944d82fe128a5d72'),
    (14, 4, 0, '5f41aef91702d08c38032d487ecd5036257befc4092558f4fccd6259306787d2'),
    (14, 4, 1, 'c420901597f65d6b97370be485ceb3015aaa84df7d1b2ef070a782ecee83b391'),
    (14, 4, 2, '4d9810f2aed4a0c2e11ef8032fdac9b8f2afb1bedd1092cbe8ed01142ee5c4b8'),
    (15, 5, 0, 'bc7c33320a934e509e6e10833b23b94d6c053acdc4eb60be1744fd7d5b8d4cb8'),
    (15, 5, 1, 'c0fa19792be98998bd4a44ad522133a8499d646c680781686d3eca4b885c4b3d'),
    (15, 5, 3, 'c1068408bee6845e47c594a1409fa931545b74e534fd891ebcfdaba69c62b494'),
]


#: (asset_id, sha256, n_bytes, w, h) of the stdlib resize of
#: each baseline-JPEG fixture asset (r12b JPEG decoder)
JPEG_RESIZE_EXPECTED = [
    (0, '79be2dd74dc3a248a111f705f0594f5a304709bd247f17070df745107d5f14e2', 467, 32, 16),
    (1, 'cf36eb85be21220bc5eb3f9c882e59077a9defabb2b6f9fcbca25492bbafceae', 984, 32, 16),
    (2, 'd5a53e6d8a132c2f962e639a5f132edc2f71fa2a6dc065f5e42dc6fa328d890f', 1177, 32, 16),
    (3, 'd958b6e01072051641d405c5060793b8cdb5a14bd90909f8928fdee8d40fa9a3', 1305, 32, 16),
    (4, '7550afe12b5c60aa7e3f8dec1e2451ab8ef78d9f905f693e2978360288554e31', 714, 32, 16),
    (5, 'aac2922ec8fa99c1022114477e1d7b3ccf1f19419eafd83a1c7449a0d2cd6a43', 870, 32, 16),
    (6, 'cc1f6608341b780efe2d8636ec8b9af64d21049b275a41a629f96d6d1757e202', 1104, 32, 16),
    (7, '3302d2884a2b34dae23f27d27c6da3963785c092f7a2a3136b977a0168198772', 1247, 32, 16),
    (8, 'aa40228aa6c4aa2fc4ffaf745467a017bf40fa3875a02d3d4ff79ab179772294', 724, 32, 16),
    (9, '23c5a2dc605b55afcf38da2ef0764ee2b84431a15550afb5359f9365dd33e008', 1080, 32, 16),
    (10, 'd7240a524e25a53af9d9a7a85134b7810d5d3c5e3b37901771133742dc25580c', 1017, 32, 16),
    (11, 'f11b79997299d288ab095e3ff9b0fe0548eb55db6fa45df4770c99ad151e9a0e', 1158, 32, 16),
    (12, 'c61908ab6f89d748490314c628d0634fc82da2c923c92e680d9029c56bfd12b6', 634, 32, 16),
    (13, 'd07dcdeab464a4ec7fe4f4c11486ad840e225f43eb0a4fc914ce50dfdc37958e', 1114, 32, 16),
    (14, 'c714a2a21401639dfb163eab45c64eac908d65dfbc7ca8bd4d898534dd178c0d', 1315, 32, 16),
    (15, '6cd2d5966d3972a8d6efce17d0f67aa3ada7c123a187d36ca1f04b70a307121a', 1061, 32, 16),
]


#: (asset_id, dhash) over real_jpeg_asset_rows
IMAGE_DHASH_JPEG_EXPECTED = [
    (0, 2531693994477127832),
    (1, -9187343239835811840),
    (2, 6944621819861155904),
    (3, 3472310912078061600),
    (4, 5280833241313612470),
    (5, -2242686647380451232),
    (6, 3490448659631312912),
    (7, 1740756466463672328),
    (8, 5534301462153310770),
    (9, 1600508525971670534),
    (10, 2622436404562756612),
    (11, 807098449597235971),
    (12, 5534230809773552162),
    (13, -7948394013784964735),
    (14, 7235156429326311648),
    (15, 580999813328273408),
]


#: same shape over real_mjpeg_asset_rows (MJPEG-in-AVI: the
#: r12b compressed-video path; frames are RGB PNG re-encodes)
FRAME_SAMPLE_MJPEG_EXPECTED = [
    (0, 2, 0, '9da73c645937fa51cb769fe259080578fd5deb19ca8f6ee4a3a47e6c211ed71b'),
    (0, 2, 1, '9f85bd5fd6f3791b46b88a4d6d04e4288bebe752fb053ce7a130f8da5457e5dc'),
    (1, 3, 0, 'f87925e03593cd14d7c589ae3f580e328226711d226569545142ea2fc9f4be21'),
    (1, 3, 1, '085209af93a4c51024d0b979b158c9f8d2150510f4f8e44d4bf2a56644ca84fc'),
    (1, 3, 2, '880e3f7abd1bf4a23ef6c1d81d7fdcf62f35c1aa69314afba004ae59022bd371'),
    (2, 4, 0, 'e6ac28b05b6a08b4744ea0b22797ea7ebf98cd8589a928f4d35a95245910f349'),
    (2, 4, 1, '296c855c9d3c44e2d2ac23a854b33bd72842d343eb0870046f5236d17aa7ab12'),
    (2, 4, 2, 'c5d99d65c16113d8db0dd315e3a1eaf748633660c5a5175723d7efaeaa9fa5c5'),
    (3, 5, 0, '025bc39373c6c47b4b78da65946a2845c0119820e705d7e0cdd4319cd2ffc550'),
    (3, 5, 1, 'f4b574455284faf4e30252360cb224499a8763fac899091e5c0def578e55a0b0'),
    (3, 5, 3, '2bd3255468c9288c5f9a0570046f5860e873e858a7b1644580b13ac062a81e9b'),
    (4, 2, 0, '4b9ec1d9c493d352f233700486909f134accada3dd2bb46079017c312c1df285'),
    (4, 2, 1, '75d203141379141a4b96ba1eb4dcdaf9894766566cad9e01b2183596fe9f12a1'),
    (5, 3, 0, 'c434de227619c448633441e1e83034848adb3a023359bc93759b7eab58b8bed8'),
    (5, 3, 1, '6ccf4423d0cc598d762a22433d3052815cb398c6208846a041507a9838c837e1'),
    (5, 3, 2, 'e295ca0cf969a71b3227ba1d470147ecd18438ed577e8a1fd0367357269d8fa5'),
    (6, 4, 0, 'a33de87ad6e66055544b65c3b5202f78381126a9498836af6cc9040fddbb1709'),
    (6, 4, 1, 'a29aa60c551201cceb086c4ca9484951e0618bdadb3ee8f5cc3914af9598fd51'),
    (6, 4, 2, '71a924da661bbfcbbe9da3391d38019bb4c554601e6679d5dd147eb2cb5021b7'),
    (7, 5, 0, '6dbc878b508fbafb0b262ecf2109ea8593c7070e76f9e4bba1d3696a0334b45e'),
    (7, 5, 1, '071fcf7305163eedd5aa2fc0442b14f924e1e311c9e7848b2411317d03c29b5a'),
    (7, 5, 3, '112fed2c3e271115e3ee058d9f281cc9249fa475df433894438d0f0e33d8feec'),
    (8, 2, 0, '81674a382bcd18ab905bef9f43a656e6c3efb0e562c3a8a209a9b5e4905a41de'),
    (8, 2, 1, '304aa03eee0471da11b27d6b95dc2a6916681400cff193bb316a7ef823c98d9c'),
    (9, 3, 0, '7f43257b5698cda82bc422abbb6bab0337bdc0078196d99b7b604e8e0867b90d'),
    (9, 3, 1, '2b709b14e052a3adf143404f5350ca6c23cd3057b3c63d4585a494066baa805c'),
    (9, 3, 2, '4bfdd972b5896472e27a33906d0837bb516a46293daa22132d03409f4a70c7c9'),
    (10, 4, 0, '72749aa24ae679d3593a742a78826ef5266a6bcf2284321614490272d3f54dd9'),
    (10, 4, 1, '37e1f4fb5115cad3bfef03af7e006b179e558c0dbe2682b4fdffc815ec4275d8'),
    (10, 4, 2, 'fbc239fe170edebb374e70717584467d6a98d89f6396ac8a12a1bf380c895a85'),
    (11, 5, 0, '7666b1d984325a5831f1705dfc88aff4bf72bd132ef49c2905a7a4359844124e'),
    (11, 5, 1, '47904560acbcad252add59deb10e33f11690b80864752faccf37f348d804a69d'),
    (11, 5, 3, '22a066e981765890eabbee263ebbef1d0356bacdae83b4ab27e48ca8a1c4d229'),
]


#: (asset_id, sample_rate, n_channels, n_samples, rms, zcr,
#: centroid_hz, fingerprint) over real_asset_rows' WAV rows
AUDIO_FEATURES_EXPECTED = [
    (3, 8000, 2, 64, 0.459711, 0.52381, 2220.094542, 72340172838076673),
    (7, 8000, 2, 56, 0.452555, 0.527273, 2285.280397, 72340172838076673),
    (11, 8000, 2, 48, 0.462356, 0.531915, 2308.037228, 144680345676153346),
    (15, 8000, 2, 40, 0.477328, 0.538462, 2340.567176, 72340172838076673),
    (19, 8000, 2, 72, 0.459995, 0.535211, 2274.17046, 361700864190383365),
    (23, 8000, 2, 64, 0.459711, 0.539683, 2220.094542, 72340172838076673),
    (27, 8000, 2, 56, 0.444335, 0.527273, 2225.179222, 72340172838076673),
    (31, 8000, 2, 48, 0.456857, 0.553191, 2264.022446, 144680345676153346),
    (35, 8000, 2, 40, 0.47243, 0.512821, 2150.341604, 72058697861366017),
    (39, 8000, 2, 72, 0.469692, 0.521127, 2313.241175, 361700864190383365),
    (43, 8000, 2, 64, 0.459711, 0.52381, 2220.094542, 72340172838076673),
    (47, 8000, 2, 56, 0.446747, 0.527273, 2306.404398, 72340172838076673),
    (51, 8000, 2, 48, 0.461658, 0.531915, 2346.906088, 144680345676153346),
    (55, 8000, 2, 40, 0.481721, 0.538462, 2388.953185, 72340172838076673),
    (59, 8000, 2, 72, 0.47133, 0.535211, 2292.331885, 361700864190383365),
    (63, 8000, 2, 64, 0.459711, 0.539683, 2220.094542, 72340172838076673),
]


#: (asset_id, sample_rate, n_channels, n_samples, rms, zcr,
#: centroid_hz, fingerprint) over real_flac_asset_rows (r13)
AUDIO_FEATURES_FLAC_EXPECTED = [
    (0, 8000, 1, 400, 0.195707, 0.007519, 498.555718, 4557149413822119743),
    (1, 8000, 2, 480, 0.176883, 0.006263, 587.445205, 4557430888798830398),
    (2, 8000, 1, 560, 0.196541, 0.007156, 446.106493, 6872313121065623391),
    (3, 8000, 2, 640, 0.171444, 0.00939, 302.743405, 8682516213269429886),
    (4, 8000, 1, 720, 0.192273, 0.011127, 405.613939, 8681953263416671870),
    (5, 8000, 2, 400, 0.174817, 0.010025, 328.99712, 4485372195249274687),
    (6, 8000, 1, 480, 0.196618, 0.012526, 442.679579, 4557430875913928510),
    (7, 8000, 2, 560, 0.177197, 0.005367, 567.966301, 6872316419617283928),
    (8, 8000, 1, 640, 0.197105, 0.00626, 410.977797, 9115141057846148990),
    (9, 8000, 2, 720, 0.170818, 0.008345, 195.855955, 8682516213135212158),
    (10, 8000, 1, 400, 0.197918, 0.007519, 498.821801, 4557430888798764862),
    (11, 8000, 2, 480, 0.171961, 0.010438, 331.755283, 4341258106684587839),
    (12, 8000, 1, 560, 0.191632, 0.012522, 469.101846, 6800258825461915487),
    (13, 8000, 2, 640, 0.172927, 0.010955, 498.629326, 8970177016493013116),
    (14, 8000, 1, 720, 0.195764, 0.005563, 452.13647, 9114859578540850814),
    (15, 8000, 2, 400, 0.17193, 0.007519, 383.906387, 4557430888798830143),
]


#: (asset_id, sample_rate, n_channels, n_samples, rms, zcr,
#: centroid_hz, fingerprint) over real_wavext_asset_rows (r14)
AUDIO_FEATURES_WAVEXT_EXPECTED = [
    (0, 8000, 1, 400, 0.195707, 0.007519, 498.555718, 4557149413822119743),
    (1, 8000, 2, 480, 0.176883, 0.006263, 587.445205, 4557430888798830398),
    (2, 8000, 1, 560, 0.196541, 0.007156, 446.106493, 6872313121065623391),
    (3, 8000, 2, 640, 0.171444, 0.00939, 302.743405, 8682516213269429886),
    (4, 8000, 1, 720, 0.192273, 0.011127, 405.613939, 8681953263416671870),
    (5, 8000, 2, 400, 0.174817, 0.010025, 328.99712, 4485372195249274687),
    (6, 8000, 1, 480, 0.196618, 0.012526, 442.679579, 4557430875913928510),
    (7, 8000, 2, 560, 0.177197, 0.005367, 567.966301, 6872316419617283928),
    (8, 8000, 1, 640, 0.197105, 0.00626, 410.977797, 9115141057846148990),
    (9, 8000, 2, 720, 0.170818, 0.008345, 195.855955, 8682516213135212158),
    (10, 8000, 1, 400, 0.197918, 0.007519, 498.821801, 4557430888798764862),
    (11, 8000, 2, 480, 0.171961, 0.010438, 331.755283, 4341258106684587839),
    (12, 8000, 1, 560, 0.191632, 0.012522, 469.101846, 6800258825461915487),
    (13, 8000, 2, 640, 0.172927, 0.010955, 498.629326, 8970177016493013116),
    (14, 8000, 1, 720, 0.195764, 0.005563, 452.13647, 9114859578540850814),
    (15, 8000, 2, 400, 0.17193, 0.007519, 383.906387, 4557430888798830143),
]


#: (asset_id, sample_rate, n_channels, n_samples, rms, zcr,
#: centroid_hz, fingerprint) over real_adpcm_asset_rows (r13)
AUDIO_FEATURES_ADPCM_EXPECTED = [
    (0, 8000, 1, 400, 0.195705, 0.007519, 494.747223, 4557149413822119743),
    (1, 8000, 2, 480, 0.176818, 0.006263, 592.303117, 4557430888798830398),
    (2, 8000, 1, 560, 0.196535, 0.007156, 442.156337, 6872313121065623391),
    (3, 8000, 2, 640, 0.171357, 0.00939, 311.634513, 8106055460966006398),
    (4, 8000, 1, 720, 0.192296, 0.011127, 412.744959, 8681953263416671870),
    (5, 8000, 2, 400, 0.174681, 0.010025, 324.812283, 4485372195249274687),
    (6, 8000, 1, 480, 0.196556, 0.012526, 458.153355, 4557430875913928510),
    (7, 8000, 2, 560, 0.177158, 0.005367, 570.855104, 6872316419617283928),
    (8, 8000, 1, 640, 0.197118, 0.00626, 406.43295, 9115141057846148990),
    (9, 8000, 2, 720, 0.170762, 0.008345, 213.996843, 8106055460831788670),
    (10, 8000, 1, 400, 0.197878, 0.007519, 509.085385, 4557430888798764862),
    (11, 8000, 2, 480, 0.171837, 0.010438, 334.183774, 4341258106684587839),
    (12, 8000, 1, 560, 0.191622, 0.012522, 463.0586, 6656143633091026783),
    (13, 8000, 2, 640, 0.172798, 0.010955, 507.18352, 8970177016493013116),
    (14, 8000, 1, 720, 0.195773, 0.005563, 450.046965, 9114859578540850814),
    (15, 8000, 2, 400, 0.17185, 0.007519, 386.332745, 4557430888798830143),
]


#: (asset_id, n_bytes, sha256, width, height, n_frames)
#: over real_tiff_asset_rows (r13, header-only)
MULTIMODAL_TIFF_EXPECTED = [
    (0, 38, '1c6d2358ecd8176085a13168048023cd697820c42b8d6d687d3ad91f57abfee0', 240, 180, 1),
    (1, 68, '3fddf306ac0f318c6db2f3b54a220ff4ad4f3c0734b1fbf61d2cfdeb50c00f56', 247, 185, 2),
    (2, 98, '31c31351eb158cfb91e71800cc2408e8f35d9dbfcbca4d7b5456f4d33c08ade6', 254, 190, 3),
    (3, 128, 'bf97bb61a807761e100f1495204ae9ae487dd72cd62d6a9885bf5ac79931446d', 261, 195, 4),
    (4, 38, '18ad0d1de3345d1d0fd8921ccedb6095e3aeb9e879e12fa0ed9a139ed61d34bb', 268, 200, 1),
    (5, 68, 'd84ea1686bb560cec148e5465d927d7dce97d35ffa1e5d0b4c5586a8af7996c8', 275, 205, 2),
    (6, 98, '514deb8d65dd69ef625f7704f504e7806ab6ec5212ea7b49ca63057b83f9b1cc', 282, 210, 3),
    (7, 128, 'b7c54de08a416f8d780046754ad8123360b2c48d3d0946eee53eef969c8174bf', 289, 215, 4),
    (8, 38, '69f3280e8c672a5225059db05068427f5218cd701fbe2a4b6022a74807906a7a', 296, 220, 1),
    (9, 68, 'b909d78ed0c5a4f0376e150fbebdbb045406139111d4cb58f3b94dc459d0483f', 303, 225, 2),
    (10, 98, 'f2fcd64a9819e7e79245e6f78f3bbf982018f3ada5ed12f6b1661e4ea30e6b5b', 310, 230, 3),
    (11, 128, 'e01ffcc237ad75539af531d036bff11f6e40f88d24b4323d65befde3f1b2246d', 317, 235, 4),
    (12, 38, 'eba0b9330a6004e58342d7e8710aeb73ef3c23f50afcc161e15acfd0fe79ccd3', 324, 240, 1),
    (13, 68, 'ce8ca1d26cc6160f02f3e515daa3ee8bfd532c4f2868435b8fcc22fdfd9bf770', 331, 245, 2),
    (14, 98, '65b5d02e6fffdacc901229eee4a963a700a4fbafcfaae415e9732ee03e387252', 338, 250, 3),
    (15, 128, '3dd52b2be0dabccb4306be98e6d166ef5f4d705ccf84fa02975eaa19837b761a', 345, 255, 4),
]


#: (asset_id, n_bytes, sha256, width, height, n_frames, dhash)
#: over real_tiff_pixel_asset_rows (r14, strip raster decode)
MULTIMODAL_TIFF_PX_EXPECTED = [
    (0, 181, '8757dcf9fae6c9295d7cfc35471a1d981530cbfa4a98fa57199e3fd71c2eccbb', 7, 5, 1, 38281183229937800),
    (1, 279, 'f0ca0551e411c347ec7b44d07996f8f2020236ee2ab4ba956615b6fe00bcd2c0', 8, 6, 1, 46347370058784928),
    (2, 387, '089ad2f8a94f75da34aaf2c32326ca25b4cea76a19de403565d950702b86877a', 9, 7, 1, 50705800596824096),
    (3, 250, '47674760177fb8b399df45b920940c81b72b6cf0b2673b8bfeb53f579039f38e', 10, 8, 1, 1157442765409226768),
    (4, 293, '373769471cc7e62984128e7498e8aba17ec326d89f6b7861d8fdc5e0b8b012ae', 11, 5, 1, 12385483761911816),
    (5, 470, '7eb3959fd7cc7a3d3111280358d337312a49c547d13b4234a12214a38cdc86f1', 12, 6, 1, 40124254505438348),
    (6, 172, 'da8fc9ea643e2e7172147ed1ede2f38b9bb39367ab1619d1a22e2bd2f60b33d1', 7, 7, 1, 47473238424987816),
    (7, 201, '723ce5201df63cf5d62f93d5a1024da5ceee47077381db5e1e96b8f17e71c449', 8, 8, 1, -3272792461833891696),
    (8, 686, '8259356bfc27ae95d8c2aa8054384a45aa4e2dd84eb7d59b48b31cc29edcaa24', 9, 5, 1, 38280701119825928),
    (9, 158, 'ff55f5d8708e6862f9ddd216370b01cf2eae81121dfcfcafa9f96a8717feb552', 10, 6, 1, 1130315133486084),
    (10, 396, '7849a5b1116d0b2083fdeebc8f8bb8547bc4d7e507c5f366ffbbad3a0e5d1807', 11, 7, 1, 46943256169448580),
    (11, 310, 'ac2976508fa42c7ed2010aa0a7b74466aa6f6f01b472d7a6fcdd18269299db7b', 12, 8, 1, -981113044359552414),
    (12, 157, 'f5460c680f5e3b88a674c1b454c2640133a658b33fd062cc6d71a7dcab3a7ffa', 7, 5, 1, 39407100383759500),
    (13, 316, 'a59b15646ec98711254d915ba8498fecf59faec01d61c11ce52d35795c8906a9', 8, 6, 1, 46386832220652676),
    (14, 384, '2b68b098ad9f09948d1335e7e4efd5b49c9b74bbf3b1a6bd7f96205e72e9ef38', 9, 7, 1, 42263346082349570),
    (15, 222, 'f9c511aa3752949be9225727f18578f96af56615e6c1322107b854d80b12b7b8', 10, 8, 1, 4702111234474983745),
]


#: (asset_id, n_bytes, sha256, width, height, n_frames, dhash)
#: over real_webp_pixel_asset_rows (r15, VP8L raster decode)
MULTIMODAL_WEBP_PX_EXPECTED = [
    (0, 190, '4d2e2886bba9720dcae7d4cd1e16175d71fd661db0478c4967aef1386f05df2d', 7, 5, 1, 38281183229937800),
    (1, 246, 'a08a51054f050d73d9b575a9e952cbdf76a7809c7c4906372e8f39672010d0f4', 8, 6, 1, 46347370058784928),
    (2, 312, 'e69a2f2acfb922430afdfc6070333c56c008c8fe507bc835556829a4162e3a83', 9, 7, 1, 50705800596824096),
    (3, 108, '9506d08cdb4569bfd2726b30500aab4cc12d71dc06a9f2c5f2eed94a84b658c0', 10, 8, 1, 1157442765409226768),
    (4, 228, 'e29d61dd76b566a9e37f7bb4e7a58145ef45716487f33b40041855ac99672ab8', 11, 5, 1, 12385483761911816),
    (5, 374, '77efb45f0ba370cdc87f6ce65e2401f113a2f3d950cee2aa4ac66cfd402e9b29', 12, 6, 1, 40124254505438348),
    (6, 206, '625f406de9cdb98ed81c2042c85c83fb13b8c5b5ce0091cd47610bb5ec8b8255', 7, 7, 1, 47473238424987816),
    (7, 274, 'b292cc7ba16fc9878dabe4cdb85799c7c8b241f8bc5108d86991ec490ec57049', 8, 8, 1, -3272792461833891696),
    (8, 270, 'e909e26bbf72b3cec6f05ee4358e18b4c1b0ba218454075991b9ff0193a1e7b8', 9, 5, 1, 38280701119825928),
    (9, 100, '2b52e24b219a4b4a4c5c4dbc5cc86b1fb65e1d1eb95333d20a0df30b7e1f2507', 10, 6, 1, 1130315133486084),
    (10, 264, '701f8eae54938a499b3cae06a9813dab57ec62d396c57b2a496fa0b075b40a86', 11, 7, 1, 46943256169448580),
    (11, 452, '9cfb91e18fe1c6598be61a938d2c06017d4c613c950290b63667a90ae94a911c', 12, 8, 1, -981113044359552414),
    (12, 190, '48d478c7ee6d27d26a517ae314e4f3a31a13dcdf939d1b241ae420ad14cffa9b', 7, 5, 1, 39407100383759500),
    (13, 246, '6cb14260abc0ae0775f05a4b43ebc64f4a0712ec467f638e80581dccedc96076', 8, 6, 1, 46386832220652676),
    (14, 312, '603b2e07a92f10a6422a5600e75be4c857657095b193e0cfa4dd3366e86b09b2', 9, 7, 1, 42263346082349570),
    (15, 108, '8d622fa5b7ed973c490e751727d378ef2bebfc680ba337da999151a7c678c1a9', 10, 8, 1, 4702111234474983745),
]


#: (asset_id, n_bytes, sha256, width, height, n_frames, dhash)
#: over real_webp_lossy_asset_rows (r16, VP8 key-frame decode)
MULTIMODAL_WEBP_LOSSY_EXPECTED = [
    (0, 216, 'e42a069430909c71d7f35026b59cb8b1c220857cefa1eba73a6b159b2e920219', 24, 16, 1, 5931898588016039510),
    (1, 276, 'f4a7d51ffed5e81f8e8f00d3f47cff31ce25efb422fe69153e0f8654b7a346bc', 33, 21, 1, 1284980180827941525),
    (2, 192, 'a8cc46185df60a5451bd1dffbbf83a17520fc8f062dee2694384f63f8292ca0a', 16, 16, 1, 578721382704613384),
    (3, 1144, '62330fbe12fc16749e4ad47a1c3cc91f4eb29628bc4253b9f20dec1606da950f', 48, 32, 1, -6795468231925451851),
    (4, 130, 'd6343e313b7a041f4303ada358e4ee72efb453bcd6d4f36321a4bd4ca30da458', 20, 12, 1, 5497853027901000780),
    (5, 482, '439fca02aa35ecceb1992e68de8b4c8a21e93325f2244e831b690a02a2e1a077', 40, 24, 1, -7378697629483812471),
    (6, 204, '28ba2c3a10a8dfa6e2d2b5e53fb01e0b156625ad66057826d819089b568c5f8c', 32, 32, 1, -5383291072094227126),
    (7, 386, '67d6c4b3d12c08d36f02b8357d21affe2a1d6f1c7c120ae92af4ac49e4652ec7', 28, 20, 1, -7306357490062290286),
]


#: (asset_id, n_frames, frame_index, dhash) over
#: real_webp_anim_asset_rows (r15, ANMF/VP8L animation)
FRAME_SAMPLE_WEBP_EXPECTED = [
    (0, 2, 0, -3978709506094217016),
    (0, 2, 1, -3978709505824728872),
    (1, 3, 0, 7803696145446497388),
    (1, 3, 1, 103483447296),
    (1, 3, 2, 123628225042432),
    (2, 4, 0, 7215932240598148132),
    (2, 4, 1, 7215912501128602660),
    (2, 4, 2, 7215907947858895908),
    (2, 4, 3, 7215908016846879804),
    (3, 2, 0, 5497853135693827148),
    (3, 2, 1, 202116108),
    (4, 3, 0, -6619125538728156060),
    (4, 3, 1, -6619125534030011036),
    (4, 3, 2, -6619154241658723996),
    (5, 4, 0, 2604246222170760228),
    (5, 4, 1, 26491762507776),
    (5, 4, 2, 26595279515648),
    (5, 4, 3, 26448644410894),
    (6, 2, 0, 4919131752989213764),
    (6, 2, 1, 4919131753191338096),
    (7, 3, 0, 2640275019223410214),
    (7, 3, 1, 60365344256),
    (7, 3, 2, 30872696589824),
]


#: (asset_id, n_bytes, sha256, container, sample_rate,
#: n_channels, n_samples, duration_s) over real_mp3_asset_rows
#: (r14, header-only frame accounting)
MULTIMODAL_MP3_EXPECTED = [
    (0, 360, '57efd0314519e614457cdb4fdebc6575e7f5c9a4da1484e94cfaf2ad12f055ac', 'mp3', 44100, 1, 3456, 0.078367),
    (1, 658, '29c63fef021e0b59a8778ab9af95296d7aca95ba4aee378c7cd7a333403132ed', 'mp3', 24000, 2, 2304, 0.096),
    (2, 7202, '0a9401500089e3014dd4e464f2e29a89521496d04d3a5d88d2568caaedba8c30', 'mp3', 8000, 1, 5760, 0.72),
    (3, 2739, '6ec2c833c2cd13b47cf4ae6ec4c4d384c0ef5ef00759b0b03be58fcb3b00111b', 'mp3', 44100, 2, 6912, 0.156735),
    (4, 3148, '5d17b4f672a34a25093269d0b8aa6c5a7ecfabfd09596465db27979c77518849', 'mp3', 24000, 1, 2688, 0.112),
    (5, 778, 'dc4adcf99b74f1790e49405ccfc23953d1a780af36a06b118207bd44034bc52c', 'mp3', 8000, 2, 1728, 0.216),
    (6, 1619, '6d2cc44c209cb03f73ba4bcb3ac11716f59f9ee72422b484488d1237ca4ee085', 'mp3', 44100, 1, 4608, 0.10449),
    (7, 2451, '0bbea457cd54728430b64355365142347708091c2088fea897905f8170b2e186', 'mp3', 24000, 2, 5760, 0.24),
    (8, 6051, '85ccb53fc7514848bc7385822f0c47f1a1c32bc07d110b4c151645589cae2edc', 'mp3', 8000, 1, 3456, 0.432),
    (9, 1404, '4cd92b8dd263288d615bfa61790de938c124999c100601d5214017c83e66c16e', 'mp3', 44100, 2, 2688, 0.060952),
    (10, 361, '6ad82e0c0a3cd87e531b45ee1689e08ac147bd67b3ab1bcc034bfca0cd06c130', 'mp3', 24000, 1, 1728, 0.072),
    (11, 2378, 'e0608d3e7e129729f34aceb7a64bbdf0f3994fd3222df90c5fa7f415429f2920', 'mp3', 8000, 2, 2304, 0.288),
    (12, 2671, '9636eafe1afdd97178911b4d9d64f66a74ac988fbf9a538ecc84c325ef5ae361', 'mp3', 44100, 1, 5760, 0.130612),
    (13, 1571, 'd54d0b298cea9748979828def0158a02fb736d3b4e8a22a98e72b0a232e526bf', 'mp3', 24000, 2, 3456, 0.144),
    (14, 4956, '7468a787640ff723e465918d75fb28da1c65d3a59380bfa64620634ab7e24fb7', 'mp3', 8000, 1, 2688, 0.336),
    (15, 1081, '156c125d08e8f328791a97e3906f78f8b45bf0d8750a112ac23bfba2767e8512', 'mp3', 44100, 2, 3456, 0.078367),
]


#: (asset_id, n_bytes, sha256, container, sample_rate,
#: n_channels, n_samples, duration_s) over real_ogg_asset_rows
#: (r14, page-walk metadata)
MULTIMODAL_OGG_EXPECTED = [
    (0, 507, 'be0d5768bc1fcd98648f508156d54408386872d66e9a3b48acb7d87fabda873e', 'ogg-vorbis', 8000, 1, 4000, 0.5),
    (1, 531, 'd692d6c372671a6307fedfde5da8d9401f3ca8ff557b6fd9b1a86bdfe273e24f', 'ogg-opus', 48000, 1, 15749, 0.328104),
    (2, 624, '1f0c6b89154cd9ea8c2b86ff786916508dc790e848e1ed91e7a68fb0a8ea74fa', 'ogg-vorbis', 22050, 2, 33297, 1.510068),
    (3, 742, '7b6368c44ccebec62dec89030205f0993c34846bbc58c3ece7456517f000c56e', 'ogg-opus', 48000, 2, 88293, 1.839438),
    (4, 467, 'be6a85ffdf93f5c754edf28856cfce1649923c885bf61dcc8721dc81413bcf12', 'ogg-vorbis', 48000, 1, 24148, 0.503083),
    (5, 531, '69c803e0fdd0033721ef07751c2f2e405dcebdc363901fffe4713568a2a74474', 'ogg-opus', 48000, 1, 7993, 0.166521),
    (6, 664, '7231558549932ca4e800b70be0c333e313cb11a6058811dc1d077453eee6cb59', 'ogg-vorbis', 16000, 2, 24666, 1.541625),
    (7, 702, '9fb1d10356d5d3d237464e83f5cab98aa3e88c703100ca3bb87acac9b4351033', 'ogg-opus', 48000, 2, 44733, 0.931937),
    (8, 467, 'efe742166ec569f5d14f058108649db6393ad9eb4f7260889cd0bad890db1dd5', 'ogg-vorbis', 44100, 1, 22346, 0.506712),
    (9, 571, '99a08d2e6e3acdbe9c0297a3bb8e7a652d3281163c599ae1fd9713bdf44121b0', 'ogg-opus', 48000, 1, 48237, 1.004938),
    (10, 624, 'e98bba7e3334930fc7d7e6b49c9e61fd5253890d6e2c3d324d2f3cbb6c6a12c9', 'ogg-vorbis', 8000, 2, 13110, 1.63875),
    (11, 702, 'f14b3751974793dc826a37a4e788f0b91e4a17c8629dbc31fea3c3f99df9d536', 'ogg-opus', 48000, 2, 33173, 0.691104),
    (12, 507, '74d1873875792473efb371ebe412ecaaac465e77b80674baff563b2d15ea180e', 'ogg-vorbis', 22050, 1, 11469, 0.520136),
    (13, 531, 'b91b282f5d485375ea6acce9c839157266f30f6998c8926bb8d8e14d754eb6d0', 'ogg-opus', 48000, 1, 44581, 0.928771),
    (14, 624, '8a4898b3bae873181532513d3a3d69a39ef763950052f2422873cc0a11d04e10', 'ogg-vorbis', 48000, 2, 73554, 1.532375),
    (15, 742, '212cc698a5225773ec9946bd877b01895399403b2b2b78b1782048808774e5d6', 'ogg-opus', 48000, 2, 17713, 0.369021),
]


#: (asset_id, n_bytes, sha256, container, sample_rate,
#: n_channels, n_samples, duration_s) over
#: real_oggflac_asset_rows (r15, FLAC-in-Ogg mapping)
MULTIMODAL_OGGFLAC_EXPECTED = [
    (0, 528, '27169c8c800e8ca9dd56037880a81f69b3c69c5384166af8b3af31de9c95a335', 'ogg-flac', 8000, 1, 4000, 0.5),
    (1, 563, 'b86c28366ef7d95f6c2ab166e303dfc8fed46a24fcc41414e95ed3947c3d7fc8', 'ogg-flac', 16000, 2, 16106, 1.006625),
    (2, 645, 'b51151dfd5df071bda3c4a58e4cbd39ec8639a05d9f059563d064084b82289d8', 'ogg-flac', 22050, 1, 33393, 1.514422),
    (3, 774, '54ea47f67636d01f8a70f04e50b65413a6339ab83def5db23954826628012283', 'ogg-flac', 44100, 2, 88836, 2.014422),
    (4, 488, '17504216a9bc044255c4528c8b5aa3f566b6ab79d7650d11ec2844ed66c1ed0c', 'ogg-flac', 48000, 1, 24212, 0.504417),
    (5, 563, 'bcbf60f0b21a4bbd3f218e69f284f48bff19957f415f921c2e0dacb0b057b70a', 'ogg-flac', 8000, 2, 8530, 1.06625),
    (6, 685, 'b407de5805fb9a5e0c3aae8869dac5634f07553e9577fbb68503dd78a13162fe', 'ogg-flac', 16000, 1, 24954, 1.559625),
    (7, 734, '9f4cf986c744015c0046d9fe6177a8eb57acebb69cfb90c74c75b6b9363652ef', 'ogg-flac', 22050, 2, 45584, 2.067302),
    (8, 488, '82eb5c9aedee259f6ee0ec7f1fe92cf6eeea990e51e09a614365d914836cf254', 'ogg-flac', 44100, 1, 22474, 0.509615),
    (9, 603, 'af0d8effb917cb19001d1b1db8ddfb1263c0420400e66b5b8357f577fcac2aaa', 'ogg-flac', 48000, 2, 48954, 1.019875),
    (10, 645, '6454e1054e274ec30e5b65a1c599f1dceec24a38490b26efcbb7fc4745b74a98', 'ogg-flac', 8000, 1, 13590, 1.69875),
    (11, 734, '66abacf9c57f97f630f2329b77a22ba5fc07eda025a2a07a89b7338826db3e73', 'ogg-flac', 16000, 2, 34332, 2.14575),
    (12, 528, '7913c180b72b9c69c4b687d0e98e2b9fcd25c077fb9291b6b2480127dc3d3183', 'ogg-flac', 22050, 1, 11661, 0.528844),
    (13, 563, '5eb6f5293030bccf00ae4e00f16b1ed9983f17cc82f874580da7fa79ea6110ba', 'ogg-flac', 44100, 2, 45478, 1.031247),
    (14, 645, '1e3313e0e98c5facbf549c5b106add57a3e9d6257054c1c1e2b8bb3f89f55200', 'ogg-flac', 48000, 1, 74226, 1.546375),
    (15, 774, 'ddb453f2bbf567114ba728503c612d0f0f604dac786ecbc27feb6ead7cf2bbd4', 'ogg-flac', 8000, 2, 19180, 2.3975),
]


#: (asset_id, n_bytes, sha256, width, height, n_frames)
#: over real_webp_asset_rows (r14, header-only)
MULTIMODAL_WEBP_EXPECTED = [
    (0, 36, '220f2847b22c5176a8d714b77749189019a9eaaa6f6458dfa419bd7c6d201257', 16, 9, 1),
    (1, 30, '74139e939797c2a6c6763e33686cd91e8698d1194de9624a33d2fe8015515f69', 23, 14, 1),
    (2, 80, 'd9eca149370116f05aec978af2743d98b3e56fca0592147efc04cc3dd7b92369', 30, 19, 2),
    (3, 36, '3a337b59c71f0dc3bc9810f6d7dbd6a138a7b3eb7e54bbe40fbad0d0537fa08a', 37, 24, 1),
    (4, 30, 'b12fecea5df2bfda93ea2388add857f940704034f39d64763f4ae15e98971be1', 44, 29, 1),
    (5, 54, '36d18576a72fb65fb2fe252f8a28502af576c882e3002685ff106bd2ad139cf0', 51, 34, 1),
    (6, 36, '12b3eb1d24579f34d0f4b9a479720222795b9bcb95f71e0d58c7ee988dca6ca2', 58, 9, 1),
    (7, 30, '462757d62c099a261f1272165839664988487f3d5a7dcd767b58248bf35e2119', 65, 14, 1),
    (8, 30, '60668f09698970a8db003a7d6fb95708066ca0dc9b6b8311fa031207940297e7', 72, 19, 1),
    (9, 36, 'c1fc17e9518745e86000098263696a7efe1ac2f80abf721ffd8ec93e4e488aa0', 79, 24, 1),
    (10, 30, 'd6de2ff722302223a43c47b9e1fb19bcf5a535a2f9c1d1fdbb27151c740673ca', 86, 29, 1),
    (11, 106, '18c4b3537f67a5ba4f6abb3363695864bcdd15585318805f1c6c9d70046e346c', 93, 34, 3),
    (12, 36, '7144878917e10b996a1b0da3d2a3543b8f4cc017d52c708653d4774dd9c097c9', 100, 9, 1),
    (13, 30, '5db33380f6a2d2a8778f6de687a03a419229f5b4b410e98790d9baf61de9a866', 107, 14, 1),
    (14, 80, 'b9952b44996e214c348fd46cffec5f391a504ad05358678200c5e613178a74ca', 114, 19, 2),
    (15, 36, 'f0e9c24a82ec9d22e421d7bd4b098e8454bbbac8e2fd4f8156b029103fdfe358', 121, 24, 1),
]


#: (asset_id, n_bytes, sha256, media_type, width, height,
#: n_frames) over real_isobmff_asset_rows (r14, header-only)
MULTIMODAL_ISOBMFF_EXPECTED = [
    (0, 456, 'e9d87020ae438eae8e5cd08702a39954c4a427cf57e7574b4111c752bf38fdbe', 'video', 320, 180, 48),
    (1, 448, 'd3c6ea61f29ec9a5aec16de222c9ba4ab6b92a352a663201ab5653eb6ac65701', 'audio', 2, 0, 48000),
    (2, 72, '7d64ec35bb6d0367efde1b651a55d180950cff907317ada382984083a9546f3b', 'image', 66, 44, 1),
    (3, 728, 'b53058044e0d6552c5b18952d283e548cf7e851feabd92bceaaf057434088b8f', 'video', 368, 207, 69),
    (4, 460, '3cdce54053ab331b281471cdd0965b44f55630eaed1be4ba41bc72de62153bf3', 'audio', 1, 0, 81000),
    (5, 72, '8a3bb91fdbc9436fb75626971830d3b895102747c1675bb919214ab29400856d', 'image', 105, 65, 1),
    (6, 456, '458f5c527eca06605e11aea2b0a021a1cf741a6cb176a1418dc531eccf19fd95', 'video', 416, 234, 90),
    (7, 448, '3e151cdb0a6fe267666c165341584f607a3986bfbe8c6757f76deb3f545e1f55', 'audio', 2, 0, 114000),
    (8, 496, 'd5724b5c2718f55180944175a1d558644a80dd11a6f864c47a99e0a7d205ec31', 'image', 144, 86, 14),
    (9, 728, '25b9165495c37a39eee74f24a171ba3161e5570fc4dbac3aab3550e5aefe4b18', 'video', 464, 261, 111),
    (10, 460, '205decebeb7b210e6b6919eedc33d83fc4603db8e8be3dbd0a052c4cb87eef77', 'audio', 1, 0, 147000),
    (11, 72, '1b938a9681facb300f018d1faceed90fc353831c2947af49b40fb3bcc6b1021e', 'image', 183, 107, 1),
    (12, 456, 'aa20f9bc3d260fcc5d731dab5378310e55cce977a7746bc04099153ba3c189d8', 'video', 512, 288, 132),
    (13, 448, '83d7a6de800fb82e32631f2f3b0775f5fdc61456be48a1df7da6ee2fc7dc3ec2', 'audio', 2, 0, 180000),
    (14, 72, '0bad01a30f8d3bee6a6ddeb3b96b224b43d334d1be9a4a87ceb4b01f842a1586', 'image', 222, 128, 1),
    (15, 728, '14f5078ccc327cf3e87bc5a50e42e7385b82a75e18faad28521934bd05c67029', 'video', 560, 315, 153),
]


#: (asset_id, n_bytes, sha256, width, height, n_frames, dhash)
#: over real_bmp_asset_rows (r13)
MULTIMODAL_BMP_EXPECTED = [
    (0, 174, '95fbf6c7dd9d6fc5d8934bb8184df0bfd629b6e2428d82e28c47481b1134ba98', 7, 5, 1, 38281458107844744),
    (1, 198, '3f2f7375cd6e618089a61d31499cab3213001a976fcc803be1ee10f68d819141', 8, 6, 1, 46347370058784928),
    (2, 250, 'eed88ad56ddda862dc6ac73eab3007ef2e12da65464184f4594ec2a865164f95', 9, 7, 1, 50705800596824096),
    (3, 310, '87cae13ea673cff2044b2b84be0f6c17cafec5bd9a7aefe508ca9fd9a4a69980', 10, 8, 1, -5018537944868188144),
    (4, 234, 'a47413ef7300a794b002a2be5d631f4566ab6def439f8fc69a42830d0b86f298', 11, 5, 1, 12385483761911816),
    (5, 270, '3a736ac05e8046c679faaf28cbb805a66eab7b7feef02fdc6b1a3c2f61cebacc', 12, 6, 1, 40124254505438348),
    (6, 222, '509156bf5938260d74976c929d7688ee9cd7102900b501cfb45d86d4d0fadd8c', 7, 7, 1, 48673905122519208),
    (7, 246, 'daab1d348cf4c47c2614eaf519ae1114c7933f15826959f225305207841df1e1', 8, 8, 1, -3272792461833891696),
    (8, 194, '4a620b9f66f3ac7f66ef3fbbd9fadf1c1c6a4bb802220f0f583a39af7b607815', 9, 5, 1, 38280701119825928),
    (9, 246, 'c68d586b19298f4b6402840b7b6b3d3540c4d1f3496c3f73bec26de2fe8a8d43', 10, 6, 1, 42296064839255044),
    (10, 306, '19576ef431dab868fde1a500f5443a2351389b1faf8cbca0a0bb57a5e909f713', 11, 7, 1, 46943256169448580),
    (11, 342, '9167b1077c014709dd748b49d163ec537549f0c49aa28d3428ffeeef5b0c4e46', 12, 8, 1, -981113044359552414),
    (12, 174, '68acceb53b544a1ff9042187b29878eb1c5c96b09251bad7034a945dcfaedb8b', 7, 5, 1, 39407237822712972),
    (13, 198, '0a6d85348b9f7cb306fc5bffbb27457e62938c63fb8d6cb6f88efa80c0c4299e', 8, 6, 1, 46386832220652676),
    (14, 250, 'f6db5e0d5a292a3674b26781878e86ec55b842705c55971d2f3f4fdf93e261c0', 9, 7, 1, 42263346082349570),
    (15, 310, '9c9454e69b360d0b1945e901bd8297cbb915e24db1c27d182f2e0a2e3b3db1f6', 10, 8, 1, -1924211983794486975),
]


#: (asset_id, n_bytes, sha256, width, height, n_frames, dhash)
#: over real_bmp_rle_asset_rows (r14, BI_RLE8/4 decode)
MULTIMODAL_BMP_RLE_EXPECTED = [
    (0, 254, '7d45746bab0315d211ffe0acc4f0a6dce9699e6645640dfad8d6598578eb4e31', 9, 5, 1, 20266852500412496),
    (1, 180, '8e8ec48b4cc713b868650ab08abb22d01d10b5671e7bb453a5dcf68efd362225', 10, 6, 1, 40717801805602984),
    (2, 304, '475d4435701099129dcae684d461929ae323e913a8ee1fb7984fa452de184fca', 11, 7, 1, 42820034343479504),
    (3, 200, '673967c1662a8805768b6ffc525a8a174c076d8593cee333da1c393a7360816e', 12, 8, 1, 7552642885885649048),
    (4, 360, '6645e8681c2013f43e1bc634dc0c5700a1e9153704e09d911b5fce2cf9c77fb2', 13, 9, 1, 2904866084258619496),
    (5, 180, '3fe2566d7a4e73d3e7bb3da366c574cddb701c34de5b92b402922add809247d6', 14, 5, 1, 56295204856017096),
    (6, 328, 'df2ec6e16cbc86f44f5702151454ec1657039980711250f8f2f0a3f5b045e2d8', 15, 6, 1, 47376478577420368),
    (7, 188, '20dea8ade7710e2f5c72ae1b2989110948955c4c57581efc4d69f8f4010e981a', 9, 7, 1, 22703096871297104),
    (8, 328, 'b8c4309529343d8db7d8e7b23e646693cf19f6c45b060474e1c3c7e678f2fc46', 10, 8, 1, 2922880482902288456),
    (9, 210, 'bc08733d4af6e4753fc7590bde9402bdaf4f0965b4e98fde8899b40d453a9952', 11, 9, 1, 5800874539082623016),
    (10, 302, '2d910b2b9612605de820774348692faf8e0dd9710dfddcdc1d954e361f084f57', 12, 5, 1, 45036342555463840),
    (11, 190, '57f0b33191579a2088ee183b478d3fbb53e7603b5e941ff1dd8520b6d6958b42', 13, 6, 1, 38439270114947088),
]


def q_frame_sample_y4m(spark, sf_dir):
    # hash-pinned (r12): REAL video frame extraction — the Y4M raw
    # container (BT.601 YUV->RGB, C420/C422/C444/Cmono) — against frozen
    # per-frame digests like the GIF/APNG twins; compressed video keeps
    # the honest raise
    from seqspark.pipeline.multimodal import (
        make_real_y4m_assets, sample_frames)

    assets = make_real_y4m_assets(spark, 16)
    out = sample_frames(assets, n_samples=3, fake=False)
    return out.select(
        "asset_id", "n_frames", "frame_index",
        F.sha2(F.col("frame"), 256).alias("frame_sha"),
    )


def q_frame_sample_apng(spark, sf_dir):
    # hash-pinned (r12): REAL APNG frame extraction — acTL/fcTL/fdAT over
    # the stdlib PNG codec with dispose 0/1/2 and source/over blending —
    # digested against frozen literals like the GIF twin
    from seqspark.pipeline.multimodal import (
        make_real_apng_assets, sample_frames)

    assets = make_real_apng_assets(spark, 16)
    out = sample_frames(assets, n_samples=3, fake=False)
    return out.select(
        "asset_id", "n_frames", "frame_index",
        F.sha2(F.col("frame"), 256).alias("frame_sha"),
    )


#: (asset_id, fingerprint) over real_audio_pair_rows: each
#: signal twice (16-bit PCM at id i, 8-bit re-encode at 1000+i)
AUDIO_PAIR_FP_EXPECTED = [
    (0, -3980961305908428608),
    (1000, -3980961305908428608),
    (1, 3472893997115159216),
    (1001, 3472893997115159216),
    (2, 2894737211004816428),
    (1002, 2894737211004816428),
    (3, 146941769450963650),
    (1003, 146941769450963650),
    (4, 3602881909543284738),
    (1004, 3602881910625415170),
    (5, -4555179054625406776),
    (1005, -4555179054625406776),
    (6, -5570336255781064014),
    (1006, -5570336255781064014),
    (7, 877089273311661096),
    (1007, 877089273311661096),
]


#: frozen PQ codebooks (m=8 subspaces x k=16 centroids x 8 dims):
#: trained ONCE by pq_train(m=8, k=16, iters=5, sample=2048,
#: sample_order="id") on the sf0.01 embeddings (id-ordered sample —
#: the oracle-replay mode; live corpora default to md5(id) order),
#: rounded to 6dp — inputs
#: of the entry, not outputs (the SEMDEDUP_CENTROIDS standing)
PQ_CODEBOOKS = [
    [
        [0.012859, 0.013619, -0.009693, -0.168309, 0.126119, -0.016715, -0.018597, -0.073433],
        [-0.025805, -0.036216, 0.018403, -0.078993, -0.107258, -0.038468, -0.099874, 0.04038],
        [-0.035956, 0.018762, -0.072683, 0.12468, -0.07429, 0.056772, 0.057499, 0.116225],
        [-0.131971, -0.009962, 0.042848, -0.009281, 0.082347, 0.02472, 0.13394, -0.049054],
        [-0.042456, 0.007868, 0.036853, -0.002063, -0.002995, -0.186276, 0.133386, 0.102663],
        [-0.0438, -0.083376, 0.113974, 0.012733, 0.129384, -0.128552, -0.105614, 0.113016],
        [-0.018357, 0.12519, 0.075665, -0.083004, -0.1128, 0.123085, 0.000129, -0.014775],
        [0.209998, 0.003257, 0.063111, -0.044647, -0.031576, -0.048839, 0.03284, 0.072002],
        [-0.079185, -0.178864, -0.00683, -0.020504, 0.002652, 0.11012, -0.111179, 0.072901],
        [0.118378, -0.133206, 0.005464, 0.012723, 0.006899, 0.117573, -0.045236, -0.10373],
        [0.063084, -0.023545, -0.190447, 0.010826, -0.033894, 0.028936, 0.046479, -0.095156],
        [-0.083156, 0.024359, -0.056401, 0.037033, 0.054482, 0.025135, -0.150168, -0.148707],
        [0.003082, 0.012749, 0.104312, 0.01128, 0.141019, 0.189989, -0.176455, 0.001631],
        [0.062907, 0.045705, 0.056701, 0.154362, 0.049436, -0.014768, -0.064279, -0.017743],
        [0.061637, -0.006512, -0.079647, -0.059722, 0.105062, 0.014832, -0.04859, 0.166301],
        [-0.076173, 0.064662, 0.014294, 0.049649, -0.147118, -0.189359, -0.039901, -0.083767],
    ],
    [
        [0.174202, 0.014292, -0.034179, 0.028693, -0.143812, -0.047185, -0.00282, -0.034856],
        [-0.070827, 0.109327, -0.089531, 0.128235, 0.086699, -0.085118, 0.049588, -0.021581],
        [-0.118232, -0.122399, -0.016212, -0.006584, -0.094321, 0.103812, 0.072862, 0.103385],
        [-0.076645, 0.02381, -0.093896, 0.052144, 0.100697, 0.236806, 0.016962, -0.010097],
        [-0.008744, 0.10759, 0.15329, 0.010447, 0.001123, -0.001544, 0.109709, -0.080299],
        [-0.064607, 0.043402, 0.092151, 0.173662, -0.039587, -0.016434, -0.12971, 0.02238],
        [0.020215, 0.233595, 0.024836, 0.021339, -0.082837, 0.126726, -0.004261, -0.018094],
        [-0.068434, -0.113549, 0.060048, -0.04232, -0.092562, -0.03216, 0.076573, -0.153632],
        [0.005775, 0.032519, -0.094892, 0.054506, 0.024285, 0.026938, -0.075873, 0.184311],
        [-0.083913, 0.039549, -0.019805, -0.094875, -0.151051, -0.018739, -0.119449, -0.033255],
        [0.025973, -0.080675, -0.081485, -0.081508, 0.044228, -0.124432, -0.008137, 0.005065],
        [0.047856, 0.019793, 0.065187, -0.135011, 0.089861, 0.076182, -0.092747, 0.046373],
        [0.070243, -0.116911, 0.068911, 0.037073, 0.069384, 0.050195, 0.111039, 0.074085],
        [-0.031163, -0.044603, 0.168388, -0.116047, 0.037851, -0.172222, -0.038475, 0.070504],
        [0.115721, 0.136459, -0.05412, -0.004761, 0.09378, -0.057913, 0.169922, -0.008662],
        [-0.037462, -0.153897, -0.029976, 0.039945, -0.00923, 0.070947, -0.097543, -0.147433],
    ],
    [
        [0.033848, 0.072905, -0.061131, 0.116909, -0.111294, -0.04772, 0.039464, -0.12123],
        [-0.063883, -0.022777, 0.06888, -0.098495, 0.018975, 0.202137, -0.003158, -0.02992],
        [-0.120114, 0.01427, -0.016174, -0.206656, 0.117225, 0.033118, 0.189145, -0.157616],
        [0.025816, -0.084067, -0.111066, 0.087083, 0.118033, -0.031118, -0.072741, 0.011175],
        [-0.037391, 0.204173, -0.029844, -0.00497, 0.050856, 0.080009, -0.051513, 0.007739],
        [0.163054, -0.036941, 0.020476, 0.031753, -0.072245, -0.082213, -0.060399, 0.120985],
        [-0.036611, 0.147881, -0.035381, -0.073235, 0.015761, -0.144577, -0.023912, -0.030263],
        [0.051878, -0.007175, -0.094519, 0.130701, 0.006516, 0.109481, 0.0832, 0.042755],
        [0.025198, -0.065129, 0.126337, 0.063666, 0.0732, -0.020391, 0.114703, -0.008181],
        [-0.006541, 0.043052, 0.032392, -0.081234, -0.011917, 0.068988, 0.100888, 0.234609],
        [0.023316, 0.112049, 0.066049, -0.070346, -0.161042, 0.075513, 0.011096, -0.047282],
        [0.163743, -0.035646, -0.018159, -0.10304, -0.041559, -0.052588, 0.092705, -0.045755],
        [-0.08333, -0.130774, -0.130409, -0.072883, -0.026925, 0.046539, -0.01934, -0.023906],
        [0.068776, 0.059419, 0.086543, -0.038534, 0.134785, -0.009109, -0.010824, -0.227654],
        [-0.022694, -0.068568, 0.114857, 0.014987, 0.043955, -0.054618, -0.140642, 0.042576],
        [-0.159487, 0.003433, 0.018443, 0.08272, -0.047019, -0.057732, 0.016253, -0.000564],
    ],
    [
        [0.040045, 0.179615, 0.126953, 0.022332, 0.03494, 0.023965, 0.000782, 0.160368],
        [0.081063, 0.060074, -0.05877, -0.016866, 0.025826, 0.165471, -0.070227, 0.037855],
        [-0.07452, -0.063046, -0.079238, -0.125672, 0.064449, 0.021883, -0.053716, -0.140252],
        [-0.060253, -0.015038, 0.00668, -0.101365, -0.131132, -0.042812, -0.079328, 0.045248],
        [-0.010574, -0.088836, 0.168465, -0.027419, 0.065512, 0.044147, 0.071017, -0.024196],
        [0.139294, 0.070983, -0.002376, -0.040639, 0.072198, 0.079791, 0.094438, -0.137618],
        [-0.068971, -0.120281, 0.023271, 0.135726, 0.066026, 0.000303, 0.03483, -0.027138],
        [0.061361, -0.103268, -0.096214, -0.012076, -0.048219, 0.049051, 0.130411, 0.093153],
        [-0.071679, 0.149378, 0.013661, -0.042863, 0.035268, -0.245379, 0.059828, -0.032684],
        [0.009275, -0.090184, -0.104053, 0.099642, -0.076333, -0.089637, 0.016837, -0.144509],
        [0.053024, 0.051235, -0.076668, 0.188581, -0.038065, 0.035438, -0.10822, -0.000366],
        [0.130697, 0.10455, 0.056357, 0.01124, -0.107829, -0.039386, -0.014573, 0.046467],
        [-0.078013, 0.212023, -0.076663, 0.039164, -0.030279, -0.036325, 0.053717, -0.130588],
        [0.042297, -0.02482, 0.022003, 0.026041, 0.087683, -0.127728, -0.076258, 0.073021],
        [-0.189248, 0.05481, -0.026813, -0.009342, 0.058882, 0.094326, -0.060456, 0.041372],
        [-0.079375, -0.000586, 0.01827, 0.029795, -0.146052, -0.013307, 0.161603, -0.083236],
    ],
    [
        [-0.219611, -0.117912, 0.040049, 0.079997, -0.013532, 0.035266, 0.007505, 0.070366],
        [-0.015733, -0.005111, -0.004816, 0.087796, -0.052134, -0.071696, 0.05839, -0.167006],
        [0.054576, 0.016349, -0.062473, 0.178176, 0.093338, 0.019643, 0.114339, 0.045076],
        [0.156577, -0.039246, -0.09603, -0.045837, -0.024052, -0.051027, 0.051478, -0.088362],
        [-0.13945, 0.009977, -0.024384, -0.100454, -0.079119, 0.066591, -0.077657, -0.074534],
        [0.00423, -0.021505, 0.02485, 0.131244, 0.002501, 0.069419, -0.161938, -0.034397],
        [-0.067658, -0.088602, -0.07879, 0.037852, 0.157294, 0.116401, 0.008374, -0.001223],
        [-0.055038, -0.063033, -0.054632, 0.012511, -0.039287, -0.153355, 0.050625, 0.137236],
        [0.003938, -0.055914, 0.156403, -0.035316, 0.093552, -0.023351, 0.083038, -0.059959],
        [-0.028049, -0.011223, 0.084837, 0.0741, -0.240779, -0.045938, 0.13093, 0.036836],
        [0.118475, -0.103619, 0.06165, -0.017, 0.034194, 0.036171, -0.012493, 0.117375],
        [0.007051, -0.131238, -0.079092, -0.098894, 0.052787, -0.115653, -0.140622, 0.010402],
        [0.014418, 0.105849, -0.059404, -0.028026, -0.072149, 0.067264, -0.009301, 0.132005],
        [0.084996, 0.113769, 0.09888, -0.003029, -0.017754, 0.181662, 0.038372, -0.013476],
        [0.071206, 0.146179, 0.024994, 0.039407, 0.06761, -0.137123, -0.126528, -0.049537],
        [0.030529, 0.018843, 0.04855, -0.192431, -0.075457, -0.082229, 0.104247, -0.032014],
    ],
    [
        [0.002852, 0.010014, -0.07021, 0.055924, -0.022896, 0.159912, 0.080954, -0.083579],
        [0.042129, -0.069252, 0.198499, 0.017111, 0.066201, 0.038426, -0.005562, -0.114882],
        [0.01972, -0.004294, 0.118267, 0.05431, -0.170302, 0.091637, -0.115529, -0.054477],
        [-0.053684, -0.087066, -0.08662, 0.048206, 0.105641, 0.071414, -0.085249, -0.029715],
        [-0.020099, 0.068091, -0.143058, -0.057941, 0.002669, 0.001236, -0.108336, 0.15629],
        [-0.055283, 0.101917, -0.123549, 0.035877, -0.147587, -0.053818, 0.055551, 0.035577],
        [0.170194, -0.065908, -0.009938, -0.074605, 0.025034, 0.076299, 0.056576, 0.124702],
        [-0.109898, -0.109096, 0.039789, 0.077468, -0.037661, 0.03411, 0.032448, 0.120379],
        [-0.052391, -0.065577, -0.066477, 0.017999, 0.087285, -0.074533, 0.112522, -0.088459],
        [0.13041, 0.088412, 0.101304, 0.064038, -0.113562, -0.008641, 0.100006, -0.110084],
        [0.005098, -0.196287, -0.032998, -0.10405, -0.055511, -0.064745, 0.033038, -0.057053],
        [0.077638, 0.011678, -0.014125, -0.14532, 0.053843, -0.082911, -0.11191, -0.011856],
        [0.065174, 0.01885, -0.023906, 0.155192, 0.038911, -0.061727, -0.046609, 0.054568],
        [-0.101383, -0.006019, -0.026026, -0.131029, -0.109549, 0.017463, -0.103174, -0.014827],
        [-0.058994, 0.075377, 0.105589, -0.048408, -0.062816, -0.187219, 0.033567, 0.003412],
        [-0.063586, 0.182082, 0.042206, -0.049822, 0.107185, 0.003279, 0.074648, 0.100103],
    ],
    [
        [0.032525, -0.15025, -0.061239, 0.126997, 0.075919, -0.07476, 0.057948, -0.0191],
        [-0.031354, -0.178971, 0.057618, 0.015762, 0.001921, 0.089924, 0.015072, 0.125012],
        [0.056591, 0.034604, 0.107531, -0.080725, -0.000281, -0.090885, 0.121376, 0.205488],
        [0.227353, -0.185555, -0.003138, -0.055173, 0.011197, 0.094963, -0.09523, 0.02063],
        [-0.068162, -0.021611, 0.032543, 0.029188, 0.012146, 0.160785, 0.101248, -0.021046],
        [-0.003578, -0.005035, 0.103302, 0.013616, -0.03202, 0.055851, -0.137477, -0.175354],
        [0.036029, 0.017196, -0.111384, 0.101533, -0.015798, -0.014872, -0.024826, 0.123274],
        [-0.033766, 0.002747, 0.152092, 0.083561, 0.03631, -0.061626, -0.060876, 0.090797],
        [-0.151284, 0.040178, -0.037483, 0.099727, -0.163326, 0.058131, -0.024172, -0.095999],
        [0.070823, -0.060535, 0.0915, -0.130154, -0.147485, 0.021682, -0.029406, 0.030668],
        [0.092103, 0.151705, 0.088958, -0.032658, 0.085686, -0.021835, -0.00514, -0.039433],
        [0.078677, 0.049625, -0.107457, -0.125481, 0.015659, 0.049343, 0.104918, 0.006821],
        [-0.116733, 0.00045, -0.019703, -0.02486, 0.168735, -0.000666, -0.069751, -0.007945],
        [-0.12255, -0.112454, -0.096459, -0.069707, -0.055328, -0.067266, -0.052903, -0.010974],
        [-0.066112, 0.010196, 0.073421, 0.086879, 0.017349, -0.090967, 0.144675, -0.02499],
        [0.040118, 0.027689, -0.030081, -0.06691, -0.024911, -0.154892, -0.034067, -0.121635],
    ],
    [
        [-0.020601, -0.100702, -0.109734, -0.073984, -0.073384, -0.045013, 0.07533, -0.168375],
        [0.043057, -0.064547, -0.00229, 0.094902, -0.098467, 0.045241, -0.087893, -0.08793],
        [0.062848, -0.088374, -0.000322, 0.098482, 0.022767, 0.160051, 0.076112, 0.003017],
        [-0.082587, -0.062345, -0.041423, -0.136568, 0.104758, -0.043956, -0.033367, -0.05208],
        [0.090478, -0.124654, -0.013652, -0.079244, -0.017054, 0.00186, 0.079122, 0.106241],
        [-0.021266, 0.074724, -0.000883, 0.02025, -0.165596, 0.041928, -0.049922, 0.091756],
        [-0.10972, 0.035538, 0.000391, 0.026153, 0.068618, 0.001233, 0.175576, 0.026525],
        [-0.000388, 0.13845, -0.171764, -0.082166, 0.009415, 0.049212, -0.069278, -0.083467],
        [-0.110403, 0.04984, 0.095041, -0.099318, -0.07662, -0.114995, 0.033396, 0.030437],
        [0.022187, 0.025446, 0.040997, -0.141332, 0.003586, 0.135214, -0.006411, -0.026025],
        [0.144982, 0.059397, 0.019014, 0.032246, 0.109379, -0.120277, -0.034754, 0.050478],
        [-0.035263, 0.108075, -0.091067, 0.00617, 0.127725, 0.022109, -0.075716, 0.180495],
        [0.031842, -0.058302, 0.182221, -0.015982, 0.097894, 0.067066, -0.110174, -0.092326],
        [-0.128308, 0.037415, 0.034043, 0.138463, 0.053611, -0.002425, -0.123772, -0.028069],
        [0.001126, -0.00488, -0.182643, 0.103306, 0.013413, -0.091941, 0.082699, 0.004194],
        [0.059142, 0.086522, 0.132134, 0.054755, -0.076822, -0.049169, -0.007578, -0.131976],
    ],
]



#: frozen unigram-LM vocabulary: trained ONCE by train_unigram(
#: vocab_size=400, vocab_k=4000, seed_size=2000, em_iters=2) on the
#: sf0.01 documents; (piece, logp@6dp) — inputs of the entry, the
#: SEMDEDUP_CENTROIDS standing
UNIGRAM_PIECES = [
    ('join', -3.338593),
    ('hash', -3.356386),
    ('row', -3.360618),
    ('batch', -3.367001),
    ('scan', -3.368069),
    ('column', -3.370208),
    ('customer', -3.370208),
    ('filter', -3.37128),
    ('small', -3.376653),
    ('merge', -3.387487),
    ('slow', -3.387487),
    ('order', -3.394045),
    ('vector', -3.394045),
    ('line', -3.39624),
    ('table', -3.39844),
    ('data', -3.398442),
    ('agg', -3.406181),
    ('value', -3.410629),
    ('key', -3.411744),
    ('stream', -3.420713),
    ('window', -3.422968),
    ('a', -3.42976),
    ('spark', -3.429763),
    ('group', -3.432038),
    ('part', -3.432038),
    ('big', -3.434319),
    ('sort', -3.438895),
    ('query', -3.440043),
    ('fast', -3.459754),
    ('the', -3.476283),
    ('dup', -6.951588),
    ('dat', -17.006816),
    ('gg', -17.014555),
    ('b', -24.025195),
    ('c', -24.025195),
    ('d', -24.025195),
    ('e', -24.025195),
    ('f', -24.025195),
    ('g', -24.025195),
    ('h', -24.025195),
    ('i', -24.025195),
    ('j', -24.025195),
    ('k', -24.025195),
    ('l', -24.025195),
    ('m', -24.025195),
    ('n', -24.025195),
    ('o', -24.025195),
    ('p', -24.025195),
    ('q', -24.025195),
    ('r', -24.025195),
    ('s', -24.025195),
    ('t', -24.025195),
    ('u', -24.025195),
    ('v', -24.025195),
    ('w', -24.025195),
    ('y', -24.025195),
    ('ab', -37.840706),
    ('abl', -37.840706),
    ('able', -37.840706),
    ('ag', -37.840706),
    ('al', -37.840706),
    ('all', -37.840706),
    ('alu', -37.840706),
    ('alue', -37.840706),
    ('am', -37.840706),
    ('an', -37.840706),
    ('ar', -37.840706),
    ('ark', -37.840706),
    ('art', -37.840706),
    ('as', -37.840706),
    ('ash', -37.840706),
    ('ast', -37.840706),
    ('at', -37.840706),
    ('ata', -37.840706),
    ('atc', -37.840706),
    ('atch', -37.840706),
    ('ba', -37.840706),
    ('bat', -37.840706),
    ('batc', -37.840706),
    ('bi', -37.840706),
    ('bl', -37.840706),
    ('ble', -37.840706),
    ('ca', -37.840706),
    ('can', -37.840706),
    ('ch', -37.840706),
    ('co', -37.840706),
    ('col', -37.840706),
    ('colu', -37.840706),
    ('colum', -37.840706),
    ('ct', -37.840706),
    ('cto', -37.840706),
    ('ctor', -37.840706),
    ('cu', -37.840706),
    ('cus', -37.840706),
    ('cust', -37.840706),
    ('custo', -37.840706),
    ('custom', -37.840706),
    ('custome', -37.840706),
    ('da', -37.840706),
    ('de', -37.840706),
    ('der', -37.840706),
    ('do', -37.840706),
    ('dow', -37.840706),
    ('du', -37.840706),
    ('ea', -37.840706),
    ('eam', -37.840706),
    ('ec', -37.840706),
    ('ect', -37.840706),
    ('ecto', -37.840706),
    ('ector', -37.840706),
    ('er', -37.840706),
    ('erg', -37.840706),
    ('erge', -37.840706),
    ('ery', -37.840706),
    ('ey', -37.840706),
    ('fa', -37.840706),
    ('fas', -37.840706),
    ('fi', -37.840706),
    ('fil', -37.840706),
    ('filt', -37.840706),
    ('filte', -37.840706),
    ('ge', -37.840706),
    ('gr', -37.840706),
    ('gro', -37.840706),
    ('grou', -37.840706),
    ('ha', -37.840706),
    ('has', -37.840706),
    ('he', -37.840706),
    ('ig', -37.840706),
    ('il', -37.840706),
    ('ilt', -37.840706),
    ('ilte', -37.840706),
    ('ilter', -37.840706),
    ('in', -37.840706),
    ('ind', -37.840706),
    ('indo', -37.840706),
    ('indow', -37.840706),
    ('ine', -37.840706),
    ('jo', -37.840706),
    ('joi', -37.840706),
    ('ke', -37.840706),
    ('le', -37.840706),
    ('li', -37.840706),
    ('lin', -37.840706),
    ('ll', -37.840706),
    ('lo', -37.840706),
    ('low', -37.840706),
    ('lt', -37.840706),
    ('lte', -37.840706),
    ('lter', -37.840706),
    ('lu', -37.840706),
    ('lue', -37.840706),
    ('lum', -37.840706),
    ('lumn', -37.840706),
    ('ma', -37.840706),
    ('mal', -37.840706),
    ('mall', -37.840706),
    ('me', -37.840706),
    ('mer', -37.840706),
    ('merg', -37.840706),
    ('mn', -37.840706),
    ('nd', -37.840706),
    ('ndo', -37.840706),
    ('ndow', -37.840706),
    ('ne', -37.840706),
    ('oi', -37.840706),
    ('oin', -37.840706),
    ('ol', -37.840706),
    ('olu', -37.840706),
    ('olum', -37.840706),
    ('olumn', -37.840706),
    ('om', -37.840706),
    ('ome', -37.840706),
    ('omer', -37.840706),
    ('or', -37.840706),
    ('ord', -37.840706),
    ('orde', -37.840706),
    ('ort', -37.840706),
    ('ou', -37.840706),
    ('oup', -37.840706),
    ('ow', -37.840706),
    ('pa', -37.840706),
    ('par', -37.840706),
    ('park', -37.840706),
    ('qu', -37.840706),
    ('que', -37.840706),
    ('quer', -37.840706),
    ('rd', -37.840706),
    ('rde', -37.840706),
    ('rder', -37.840706),
    ('re', -37.840706),
    ('rea', -37.840706),
    ('ream', -37.840706),
    ('rg', -37.840706),
    ('rge', -37.840706),
    ('rk', -37.840706),
    ('ro', -37.840706),
    ('rou', -37.840706),
    ('roup', -37.840706),
    ('rt', -37.840706),
    ('ry', -37.840706),
    ('sc', -37.840706),
    ('sca', -37.840706),
    ('sh', -37.840706),
    ('sl', -37.840706),
    ('slo', -37.840706),
    ('sm', -37.840706),
    ('sma', -37.840706),
    ('smal', -37.840706),
    ('so', -37.840706),
    ('sor', -37.840706),
    ('sp', -37.840706),
    ('spa', -37.840706),
    ('spar', -37.840706),
    ('st', -37.840706),
    ('sto', -37.840706),
    ('stom', -37.840706),
    ('stome', -37.840706),
    ('stomer', -37.840706),
    ('str', -37.840706),
    ('stre', -37.840706),
    ('strea', -37.840706),
    ('ta', -37.840706),
    ('tab', -37.840706),
    ('tabl', -37.840706),
    ('tc', -37.840706),
    ('tch', -37.840706),
    ('te', -37.840706),
    ('ter', -37.840706),
    ('th', -37.840706),
    ('to', -37.840706),
    ('tom', -37.840706),
    ('tome', -37.840706),
    ('tomer', -37.840706),
    ('tor', -37.840706),
    ('tr', -37.840706),
    ('tre', -37.840706),
    ('trea', -37.840706),
    ('tream', -37.840706),
    ('ue', -37.840706),
    ('uer', -37.840706),
    ('uery', -37.840706),
    ('um', -37.840706),
    ('umn', -37.840706),
    ('up', -37.840706),
    ('us', -37.840706),
    ('ust', -37.840706),
    ('usto', -37.840706),
    ('ustom', -37.840706),
    ('ustome', -37.840706),
    ('ustomer', -37.840706),
    ('va', -37.840706),
    ('val', -37.840706),
    ('valu', -37.840706),
    ('ve', -37.840706),
    ('vec', -37.840706),
    ('vect', -37.840706),
    ('vecto', -37.840706),
    ('wi', -37.840706),
    ('win', -37.840706),
    ('wind', -37.840706),
    ('windo', -37.840706),
]


#: the unigram contract entry's fixture corpus — literal docs, so
#: (NULL-text docs stay out of the CONTRACT fixture — DuckDB's
#: pandas bridge renders a NULL BIGINT as NaN, which the checker
#: cannot distinguish from a real NaN; NULL semantics are pinned by
#: the pytest parity suite instead)
#: the frozen segmentation map below is closed over its words at
#: ANY scale factor (the entry is corpus-independent by design)
UNIGRAM_FIXTURE_DOCS = [
    (1, 'the hash join scans every row group in the partitioned table'),
    (2, 'broadcast joins skip the shuffle when one side is small'),
    (3, 'Tokenization and tokenizers: internationalization-ready!'),
    (4, 'ZZZ unknowns: qwxyzzy 42 rows'),
    (5, 'the the the the'),
    (6, ''),
    (8, 'predicate pushdown prunes partitions before any scan happens'),
]

#: frozen Viterbi segmentations of every fixture word under
#: UNIGRAM_PIECES — generated ONCE and committed, so a Viterbi or
#: trainer regression FAILS the contract instead of moving the
#: oracle (the frozen-digest principle)
UNIGRAM_SEG = [
    ('42', ['4', '2']),
    ('and', ['a', 'nd']),
    ('any', ['a', 'n', 'y']),
    ('before', ['b', 'e', 'f', 'o', 're']),
    ('broadcast', ['b', 'ro', 'a', 'd', 'c', 'ast']),
    ('every', ['e', 'v', 'ery']),
    ('group', ['group']),
    ('happens', ['h', 'a', 'p', 'p', 'e', 'n', 's']),
    ('hash', ['hash']),
    ('in', ['in']),
    ('internationalization', ['in', 'ter', 'n', 'a', 't', 'i', 'o', 'n', 'a', 'li', 'z', 'a', 't', 'i', 'o', 'n']),
    ('is', ['i', 's']),
    ('join', ['join']),
    ('joins', ['join', 's']),
    ('one', ['o', 'ne']),
    ('partitioned', ['part', 'i', 't', 'i', 'o', 'ne', 'd']),
    ('partitions', ['part', 'i', 't', 'i', 'o', 'n', 's']),
    ('predicate', ['p', 're', 'd', 'i', 'c', 'a', 'te']),
    ('prunes', ['p', 'r', 'u', 'ne', 's']),
    ('pushdown', ['p', 'us', 'h', 'dow', 'n']),
    ('qwxyzzy', ['q', 'w', 'x', 'y', 'z', 'z', 'y']),
    ('ready', ['rea', 'd', 'y']),
    ('row', ['row']),
    ('rows', ['row', 's']),
    ('scan', ['scan']),
    ('scans', ['scan', 's']),
    ('shuffle', ['sh', 'u', 'f', 'f', 'le']),
    ('side', ['s', 'i', 'de']),
    ('skip', ['s', 'k', 'i', 'p']),
    ('small', ['small']),
    ('table', ['table']),
    ('the', ['the']),
    ('tokenization', ['to', 'ke', 'n', 'i', 'z', 'a', 't', 'i', 'o', 'n']),
    ('tokenizers', ['to', 'ke', 'n', 'i', 'z', 'er', 's']),
    ('unknowns', ['u', 'n', 'k', 'n', 'ow', 'n', 's']),
    ('when', ['w', 'he', 'n']),
    ('zzz', ['z', 'z', 'z']),
]


#: frozen SAMPLED segmentations (k=4, seed=7, alpha=0.2) of every
#: fixture word — subword regularization's variant table; the
#: oracle replays the per-occurrence md5 pick against these
UNIGRAM_VARIANTS = [
    ('42', [['4', '2'], ['4', '2'], ['4', '2'], ['4', '2']]),
    ('and', [['a', 'nd'], ['a', 'nd'], ['a', 'nd'], ['a', 'nd']]),
    ('any', [['a', 'n', 'y'], ['a', 'n', 'y'], ['a', 'n', 'y'], ['a', 'n', 'y']]),
    ('before', [['b', 'e', 'f', 'or', 'e'], ['b', 'e', 'f', 'o', 're'], ['b', 'e', 'f', 'or', 'e'], ['b', 'e', 'f', 'or', 'e']]),
    ('broadcast', [['b', 'ro', 'a', 'd', 'c', 'a', 'st'], ['b', 'ro', 'a', 'd', 'c', 'ast'], ['b', 'ro', 'a', 'd', 'c', 'ast'], ['b', 'ro', 'a', 'd', 'c', 'ast']]),
    ('every', [['e', 'v', 'ery'], ['e', 'v', 'ery'], ['e', 've', 'ry'], ['e', 'v', 'ery']]),
    ('group', [['group'], ['group'], ['group'], ['group']]),
    ('happens', [['h', 'a', 'p', 'p', 'e', 'n', 's'], ['h', 'a', 'p', 'p', 'e', 'n', 's'], ['h', 'a', 'p', 'p', 'e', 'n', 's'], ['h', 'a', 'p', 'p', 'e', 'n', 's']]),
    ('hash', [['hash'], ['hash'], ['hash'], ['hash']]),
    ('in', [['in'], ['in'], ['in'], ['in']]),
    ('internationalization', [['in', 'ter', 'n', 'at', 'i', 'o', 'n', 'a', 'li', 'z', 'a', 't', 'i', 'o', 'n'], ['in', 'ter', 'n', 'a', 't', 'i', 'o', 'n', 'a', 'li', 'z', 'a', 't', 'i', 'o', 'n'], ['in', 'ter', 'n', 'a', 't', 'i', 'o', 'n', 'a', 'li', 'z', 'a', 't', 'i', 'o', 'n'], ['in', 'ter', 'n', 'a', 't', 'i', 'o', 'n', 'a', 'li', 'z', 'at', 'i', 'o', 'n']]),
    ('is', [['i', 's'], ['i', 's'], ['i', 's'], ['i', 's']]),
    ('join', [['join'], ['join'], ['join'], ['join']]),
    ('joins', [['join', 's'], ['join', 's'], ['join', 's'], ['join', 's']]),
    ('one', [['o', 'ne'], ['o', 'ne'], ['o', 'ne'], ['o', 'ne']]),
    ('partitioned', [['part', 'i', 't', 'i', 'o', 'ne', 'd'], ['part', 'i', 't', 'i', 'o', 'n', 'e', 'd'], ['part', 'i', 't', 'i', 'o', 'ne', 'd'], ['part', 'i', 't', 'i', 'o', 'ne', 'd']]),
    ('partitions', [['part', 'i', 't', 'i', 'o', 'n', 's'], ['part', 'i', 't', 'i', 'o', 'n', 's'], ['part', 'i', 't', 'i', 'o', 'n', 's'], ['part', 'i', 't', 'i', 'o', 'n', 's']]),
    ('predicate', [['p', 're', 'd', 'i', 'c', 'a', 'te'], ['p', 're', 'd', 'i', 'c', 'at', 'e'], ['p', 're', 'd', 'i', 'c', 'a', 'te'], ['p', 're', 'd', 'i', 'c', 'a', 'te']]),
    ('prunes', [['p', 'r', 'u', 'ne', 's'], ['p', 'r', 'u', 'ne', 's'], ['p', 'r', 'u', 'ne', 's'], ['p', 'r', 'u', 'ne', 's']]),
    ('pushdown', [['p', 'u', 'sh', 'dow', 'n'], ['p', 'u', 'sh', 'dow', 'n'], ['p', 'u', 'sh', 'dow', 'n'], ['p', 'us', 'h', 'dow', 'n']]),
    ('qwxyzzy', [['q', 'w', 'x', 'y', 'z', 'z', 'y'], ['q', 'w', 'x', 'y', 'z', 'z', 'y'], ['q', 'w', 'x', 'y', 'z', 'z', 'y'], ['q', 'w', 'x', 'y', 'z', 'z', 'y']]),
    ('ready', [['rea', 'd', 'y'], ['rea', 'd', 'y'], ['rea', 'd', 'y'], ['rea', 'd', 'y']]),
    ('row', [['row'], ['row'], ['row'], ['row']]),
    ('rows', [['row', 's'], ['row', 's'], ['row', 's'], ['row', 's']]),
    ('scan', [['scan'], ['scan'], ['scan'], ['scan']]),
    ('scans', [['scan', 's'], ['scan', 's'], ['scan', 's'], ['scan', 's']]),
    ('shuffle', [['sh', 'u', 'f', 'f', 'le'], ['sh', 'u', 'f', 'f', 'le'], ['sh', 'u', 'f', 'f', 'le'], ['sh', 'u', 'f', 'f', 'le']]),
    ('side', [['s', 'i', 'de'], ['s', 'i', 'de'], ['s', 'i', 'de'], ['s', 'i', 'de']]),
    ('skip', [['s', 'k', 'i', 'p'], ['s', 'k', 'i', 'p'], ['s', 'k', 'i', 'p'], ['s', 'k', 'i', 'p']]),
    ('small', [['small'], ['small'], ['small'], ['small']]),
    ('table', [['table'], ['table'], ['table'], ['table']]),
    ('the', [['the'], ['the'], ['the'], ['the']]),
    ('tokenization', [['to', 'ke', 'n', 'i', 'z', 'a', 't', 'i', 'o', 'n'], ['to', 'k', 'e', 'n', 'i', 'z', 'a', 't', 'i', 'o', 'n'], ['to', 'k', 'e', 'n', 'i', 'z', 'a', 't', 'i', 'o', 'n'], ['to', 'k', 'e', 'n', 'i', 'z', 'a', 't', 'i', 'o', 'n']]),
    ('tokenizers', [['to', 'ke', 'n', 'i', 'z', 'er', 's'], ['to', 'k', 'e', 'n', 'i', 'z', 'er', 's'], ['to', 'ke', 'n', 'i', 'z', 'er', 's'], ['to', 'ke', 'n', 'i', 'z', 'e', 'r', 's']]),
    ('unknowns', [['u', 'n', 'k', 'n', 'ow', 'n', 's'], ['u', 'n', 'k', 'n', 'ow', 'n', 's'], ['u', 'n', 'k', 'n', 'ow', 'n', 's'], ['u', 'n', 'k', 'n', 'ow', 'n', 's']]),
    ('when', [['w', 'he', 'n'], ['w', 'h', 'e', 'n'], ['w', 'he', 'n'], ['w', 'h', 'e', 'n']]),
    ('zzz', [['z', 'z', 'z'], ['z', 'z', 'z'], ['z', 'z', 'z'], ['z', 'z', 'z']]),
]


#: frozen per-frame dHashes over the MJPEG (ids 0..7) and Y4M
#: (ids 1000..1007) video fixtures — the keyframe oracle replays
#: the lag-window novelty selection over these literals
FRAME_DHASH_EXPECTED = [
    (0, 2, 0, 0),
    (0, 2, 1, 0),
    (1, 3, 0, 0),
    (1, 3, 1, 0),
    (1, 3, 2, 0),
    (2, 4, 0, 0),
    (2, 4, 1, 0),
    (2, 4, 2, 0),
    (2, 4, 3, -3974196938173005632),
    (3, 5, 0, 0),
    (3, 5, 1, 0),
    (3, 5, 2, 0),
    (3, 5, 3, 871499719992410112),
    (3, 5, 4, 6944656592472335980),
    (4, 2, 0, 0),
    (4, 2, 1, 0),
    (5, 3, 0, 0),
    (5, 3, 1, 0),
    (5, 3, 2, -4557501533498867584),
    (6, 4, 0, 0),
    (6, 4, 1, 0),
    (6, 4, 2, 0),
    (6, 4, 3, -2814502511195406144),
    (7, 5, 0, 0),
    (7, 5, 1, 0),
    (7, 5, 2, -4575515932008349568),
    (7, 5, 3, 3690203156701016304),
    (7, 5, 4, 434041037028460295),
    (1000, 2, 0, 41095973674549394),
    (1000, 2, 1, 41095973674549394),
    (1001, 3, 0, 36170084271554688),
    (1001, 3, 1, 36170084271554688),
    (1001, 3, 2, 36170084271554688),
    (1002, 4, 0, 0),
    (1002, 4, 1, 0),
    (1002, 4, 2, 0),
    (1002, 4, 3, 0),
    (1003, 5, 0, 41256502372242066),
    (1003, 5, 1, 41256502372242066),
    (1003, 5, 2, 41256502372242066),
    (1003, 5, 3, 41256502372242066),
    (1003, 5, 4, 41256502372242066),
    (1004, 2, 0, 36029346783166592),
    (1004, 2, 1, 36029346783166592),
    (1005, 3, 0, 0),
    (1005, 3, 1, 0),
    (1005, 3, 2, 0),
    (1006, 4, 0, 41095973674549394),
    (1006, 4, 1, 41095973674549394),
    (1006, 4, 2, 41095973674549394),
    (1006, 4, 3, 41095973674549394),
    (1007, 5, 0, 36170084271554688),
    (1007, 5, 1, 36170084271554688),
    (1007, 5, 2, 36170084271554688),
    (1007, 5, 3, 36170084271554688),
    (1007, 5, 4, 54114114036859008),
]


def q_video_keyframes(spark, sf_dir):
    # hash-pinned (r12b): scene-change key-frame selection — one Python
    # crossing computes per-frame dHashes (decode once per asset), then
    # the selection is PURE CATALYST: novelty = bit_count(dhash XOR
    # lag(dhash)) per asset, frame 0 always kept, top-(k-1) by novelty.
    # The oracle freezes the per-frame hashes and replays the window SQL
    # in DuckDB.
    from pyspark.sql import functions as FF

    from seqspark.pipeline.multimodal import (
        frame_dhashes, keyframes, make_real_mjpeg_assets,
        make_real_y4m_assets)

    mj = make_real_mjpeg_assets(spark, 8)
    y4 = make_real_y4m_assets(spark, 8).withColumn(
        "asset_id", FF.col("asset_id") + 1000)
    fdh = frame_dhashes(mj.unionByName(y4), fake=False)
    return keyframes(fdh, k=3)


def q_unigram_sample_encode(spark, sf_dir):
    # hash-pinned (r12b): subword REGULARIZATION — each word occurrence
    # draws one of k sampled segmentations (forward-filtering backward-
    # sampling from P(seg)^alpha, frozen as variant literals); the
    # per-occurrence pick is a PORTABLE md5 hash of (doc_id, pos, seed)
    # in pure Catalyst, so the oracle replays the exact variant choice
    from seqspark.pipeline.unigram import unigram_encoded_sampled

    docs = spark.createDataFrame(
        UNIGRAM_FIXTURE_DOCS, "doc_id long, text string")
    return unigram_encoded_sampled(
        docs, UNIGRAM_PIECES, k=4, seed=7, alpha=0.2)


def q_unigram_encode(spark, sf_dir):
    # hash-pinned (r12b): the SECOND tokenizer family — unigram-LM
    # (SentencePiece-style): EM-trained piece vocabulary (frozen as
    # literals), Viterbi segmentation of each DISTINCT word once
    # driver-side, broadcast dictionary join + in-order reassembly (the
    # BPE dict path's plan). The fixture corpus is literal, so the
    # frozen segmentation map is closed over its words at any sf; the
    # oracle replays the word split + dictionary join + reassembly in
    # DuckDB against the frozen map.
    from seqspark.pipeline.unigram import unigram_encoded

    docs = spark.createDataFrame(
        UNIGRAM_FIXTURE_DOCS, "doc_id long, text string")
    return unigram_encoded(docs, UNIGRAM_PIECES)


def q_ann_pq_batch(spark, sf_dir):
    # hash-pinned (r12b): batched ADC — a literal query SET scored in ONE
    # pass over the codes (m numpy gathers per Arrow batch, running
    # per-query bottom-k, window merge); every row must be bit-identical
    # to single-query pq_topk, so the oracle is the UNION of per-query
    # replays
    from seqspark.pipeline.ann import pq_batch_topk, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_encode(emb, PQ_CODEBOOKS)
    queries = spark.createDataFrame(
        [(0, PQ_QUERY), (1, SEMDEDUP_CENTROIDS[1])],
        "query_id int, query_vec array<double>",
    )
    return pq_batch_topk(codes, queries, PQ_CODEBOOKS, k=10)


def q_ann_pq_rerank(spark, sf_dir):
    # hash-pinned (r12b): the production IVF-PQ pattern — ADC shortlist
    # over 64x-compressed codes, exact squared-L2 re-rank of only the
    # broadcast-shortlisted raw vectors (recall@10 0.52 -> 0.97 measured,
    # BASELINE.md). Oracle replays shortlist + rerank with the identical
    # sequential 64-term float sum.
    from seqspark.pipeline.ann import pq_encode, pq_rerank_topk

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_encode(emb, PQ_CODEBOOKS)
    out = pq_rerank_topk(codes, emb, PQ_CODEBOOKS, PQ_QUERY, k=10)
    return out.select("vec_id", F.round(F.col("d2"), 6).alias("d2"))


def q_ann_pq_topk(spark, sf_dir):
    # hash-pinned (r12b): IVF-PQ's scoring half — vectors encoded to m=8
    # uint8 codes (one numpy GEMM per subspace at ingest), then top-k by
    # ADC entirely in Catalyst: the per-query lookup table is m literal
    # arrays, the score an element_at chain in whole-stage codegen, the
    # top-k a TakeOrderedAndProject. Codebooks are frozen literals
    # (inputs, like SEMDEDUP_CENTROIDS); the oracle replays encode + ADC
    # + top-k in DuckDB with the same 6dp-before-argmin discipline.
    from seqspark.pipeline.ann import pq_encode, pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_encode(emb, PQ_CODEBOOKS)
    return pq_topk(codes, PQ_CODEBOOKS, PQ_QUERY, k=10)


def q_ann_sq_topk(spark, sf_dir):
    # hash-pinned (r14): scalar quantization (the faiss SQ8 operating
    # point) — per-dimension linear [min, max] -> uint8, 4x smaller at
    # rest with near-exact recall: the complement of PQ (32x, coarser)
    # on the compression/recall curve. Encode AND ADC top-k are pure
    # Catalyst — unrolled per-dim element_at chains built as one F.expr,
    # which enter whole-stage codegen (the zip_with/aggregate HOF form
    # was interpreted and 12x slower at the ×100 decade, r14); no Python
    # crossing anywhere. The quantizer is floor(x + 0.5) — the one
    # rounding Spark and DuckDB replay identically. Bounds are frozen
    # INPUT literals like the PQ codebooks.
    from seqspark.pipeline.ann import sq_encode, sq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    codes = sq_encode(emb, SQ_BOUNDS)
    return sq_topk(codes, SQ_BOUNDS, PQ_QUERY, k=10)


def q_ann_ivfsq_topk(spark, sf_dir):
    # hash-pinned (r14): IVF cell pruning composed with SQ8 scoring —
    # the faiss IVF+SQ8 index shape: coarse cosine-argmax cells (the
    # frozen SEMDEDUP_CENTROIDS, partition-prunable at rest), SQ codes
    # carried through encode as an extra projection column, then the
    # dequantized-L2 ADC on the probed cells only. Zero Python
    # crossings end to end; the oracle replays cell argmax + quantize +
    # ADC in DuckDB.
    from seqspark.pipeline.ann import ivf_assign, ivf_sq_topk, sq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    assigned = ivf_assign(emb, SEMDEDUP_CENTROIDS)
    codes = sq_encode(assigned, SQ_BOUNDS, extra_cols=("cell",))
    return ivf_sq_topk(
        codes, SEMDEDUP_CENTROIDS, SQ_BOUNDS, PQ_QUERY, k=10, nprobe=2)


def q_ann_opq_topk(spark, sf_dir):
    # hash-pinned (r13): OPQ — PQ with a learned orthogonal rotation
    # (Ge et al. 2013) aligning the subspace split with the data's
    # principal directions; 10-20 recall points at IDENTICAL scan cost
    # (tools/bench_ann_recall.py sweep in BASELINE.md). Rotation +
    # codebooks are frozen literal INPUTS; the engine rotates each
    # vector with one extra GEMM per Arrow batch (rounded 6dp) and the
    # query driver-side with sequential sums; the oracle replays the
    # rotation as a literal-matrix CTE with the same 6dp round. Plan is
    # pq_topk's unchanged: literal-LUT element_at chain in whole-stage
    # codegen, TakeOrderedAndProject, no shuffle, no raw-vector read.
    from seqspark.pipeline.ann import opq_topk, pq_encode

    emb = load_table(spark, sf_dir, "embeddings")
    codes = pq_encode(emb, OPQ_CODEBOOKS, rotation=OPQ_ROTATION)
    return opq_topk(codes, OPQ_CODEBOOKS, OPQ_ROTATION, PQ_QUERY, k=10)


def q_ann_ivfpq_residual(spark, sf_dir):
    # hash-pinned (r13): residual IVF-PQ (the original IVFADC layout,
    # Jégou et al. 2011) — codes quantize v - centroid[cell], so the
    # codebook budget resolves neighborhoods instead of cluster offsets
    # (recall 0.36 -> 0.58 on the clustered fixture, tests/
    # test_ann_opq.py). Probe the 2 nearest of the frozen SemDeDup
    # centroids; each probed cell scores with a LUT built from the
    # query's residual against THAT centroid. Plan: a union of 2
    # cell-filtered literal-LUT projections into ONE
    # TakeOrderedAndProject — no shuffle; partition-pruned when codes
    # are written partitioned by cell.
    from seqspark.pipeline.ann import (
        ivf_assign, ivf_pq_residual_topk, pq_encode_residual)

    emb = load_table(spark, sf_dir, "embeddings")
    cells = ivf_assign(emb, SEMDEDUP_CENTROIDS).select(
        "vec_id", "cell", "embedding")
    codes = pq_encode_residual(
        cells, SEMDEDUP_CENTROIDS, PQ_RESIDUAL_CODEBOOKS)
    return ivf_pq_residual_topk(
        codes, SEMDEDUP_CENTROIDS, PQ_RESIDUAL_CODEBOOKS, PQ_QUERY,
        k=10, nprobe=2)


def q_audio_dupes(spark, sf_dir):
    # hash-pinned (r12b): near-duplicate AUDIO via the spectral
    # fingerprint — each fixture signal appears as 16-bit PCM and as an
    # 8-bit re-encode (different bytes, same sound); the banded Hamming
    # join must pair them. Oracle freezes the per-asset fingerprints and
    # replays the pair semantics brute-force in DuckDB (pigeonhole
    # banding is exact) — the image_dhash_dupes discipline on audio
    from seqspark.pipeline.dedup import hamming_dupes
    from seqspark.pipeline.multimodal import (
        audio_features, make_real_audio_pair_assets)

    assets = make_real_audio_pair_assets(spark, 8)
    feats = audio_features(assets, fake=False).select(
        "asset_id", F.col("fingerprint").alias("fp"))
    return hamming_dupes(feats, "asset_id", "fp", max_distance=3)


def q_audio_features(spark, sf_dir):
    # hash-pinned (r12b): audio DSP features over the WAV rows of the
    # real-codec fixture — RMS / zero-crossing rate / spectral centroid
    # (6dp-rounded in the kernel) and the 64-bit spectral fingerprint
    # (8 time slices x 9 log bands, per-slice normalized with a 5%
    # noise-floor clamp: bit-depth / gain / stereo-downmix invariant,
    # property-pinned in tests/test_audio.py) — vs frozen literals
    from seqspark.pipeline.multimodal import audio_features, make_real_assets

    assets = make_real_assets(spark, 64)
    return audio_features(assets, fake=False)


def q_audio_features_flac(spark, sf_dir):
    # hash-pinned (r13): the SAME audio DSP kernel over FLAC assets —
    # every sample flows through the stdlib FLAC decoder (Rice
    # residuals, FIXED predictors, mid/side reconstruction on every
    # third stereo asset), so a decoder bug anywhere in that path flips
    # a frozen literal. Real web corpora are FLAC, not WAV — this was
    # the largest honest-raise left in the audio path (r12 verdict #3).
    from seqspark.pipeline.multimodal import (
        audio_features, make_real_flac_assets)

    assets = make_real_flac_assets(spark, 16)
    return audio_features(assets, fake=False)


def q_audio_features_wavext(spark, sf_dir):
    # hash-pinned (r14): the SAME audio DSP kernel over IEEE-float and
    # WAVE_FORMAT_EXTENSIBLE WAV — every sample flows through the
    # float32/float64/GUID-subformat decoder the stdlib wave module
    # (3.11) refuses. Same signals as the FLAC fixture, so the
    # float-vs-lossless feature drift is itself a frozen literal.
    from seqspark.pipeline.multimodal import (
        audio_features, make_real_wavext_assets)

    assets = make_real_wavext_assets(spark, 16)
    return audio_features(assets, fake=False)


def q_multimodal_bmp(spark, sf_dir):
    # hash-pinned (r13): BMP decode through the stdlib codec — metadata
    # (header parse) AND pixels (row padding, bottom-up normalization,
    # BGR->RGB) both pinned: the perceptual dHash is computed from the
    # decoded raster, so a pixel-path regression flips a frozen literal
    # even when the header parse stays right. One broadcastable join of
    # two mapInPandas/mapInArrow outputs on the co-partitioned asset_id.
    from seqspark.pipeline.multimodal import (
        decode_assets, dhash_images, make_real_bmp_assets)

    assets = make_real_bmp_assets(spark, 16)
    meta = decode_assets(assets, fake=False)
    hashes = dhash_images(assets, project=("asset_id",))
    return meta.join(hashes, "asset_id").select(
        "asset_id", "n_bytes", "sha256", "width", "height", "n_frames",
        "dhash")


def q_multimodal_bmp_rle(spark, sf_dir):
    # hash-pinned (r14): BI_RLE8/BI_RLE4 decode — encoded runs, nibble
    # phases, absolute-mode word-aligned literals, EOL/EOB framing,
    # bottom-up flip and palette lookup all flow into the perceptual
    # dHash, so any RLE cursor bug flips a frozen literal. Same plan
    # shape as multimodal_bmp.
    from seqspark.pipeline.multimodal import (
        decode_assets, dhash_images, make_real_bmp_rle_assets)

    assets = make_real_bmp_rle_assets(spark, 12)
    meta = decode_assets(assets, fake=False)
    hashes = dhash_images(assets, project=("asset_id",))
    return meta.join(hashes, "asset_id").select(
        "asset_id", "n_bytes", "sha256", "width", "height", "n_frames",
        "dhash")


def q_weighted_sample(spark, sf_dir):
    # hash-pinned (r13): weighted sampling WITHOUT replacement
    # (Efraimidis-Spirakis A-ES) — k docs with inclusion probability
    # proportional to length(text)+1 (the quality-score-proportional
    # sampling a training pipeline runs instead of uniform). u derives
    # from a 52-bit md5 prefix (exact in float64 on both engines), key
    # = ln(u)/w, top-k = TakeOrderedAndProject — one scan, no shuffle.
    from seqspark.pipeline.sampling import weighted_sample

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.length("text") + 1).cast("double").alias("w"))
    return weighted_sample(docs, 50, "w", "doc_id", seed="docs")


def q_multimodal_tiff(spark, sf_dir):
    # hash-pinned (r13): TIFF metadata through the stdlib IFD walker —
    # both byte orders and multi-page chains in one fixture; header-only
    # by design (TIFF payload compression varies too much for an honest
    # stdlib pixel path), so the entry pins exactly the surface that
    # exists. dhash is deliberately NOT selected: it would be NULL for
    # every row and DuckDB's pandas bridge renders NULL BIGINT as NaN.
    from seqspark.pipeline.multimodal import (
        decode_assets, make_real_tiff_assets)

    assets = make_real_tiff_assets(spark, 16)
    return decode_assets(assets, fake=False).select(
        "asset_id", "n_bytes", "sha256", "width", "height", "n_frames")


def q_multimodal_tiff_pixels(spark, sf_dir):
    # hash-pinned (r14): TIFF RASTER decode through the stdlib strip
    # decoder — none + LZW + Deflate (both with the tag-317 horizontal
    # predictor) + PackBits compression, both byte orders, grayscale (both
    # photometrics: WhiteIsZero inverts), RGB, RGBA, and multi-strip
    # reassembly (rows_per_strip < h) all in one fixture.
    # The perceptual dHash is computed from the decoded raster, so any
    # pixel-path regression (strip order, PackBits runs, inversion,
    # channel expansion) flips a frozen literal even when the header
    # walk stays right. Same plan shape as multimodal_bmp: one
    # broadcastable join of two Arrow-batched outputs on asset_id.
    from seqspark.pipeline.multimodal import (
        decode_assets, dhash_images, make_real_tiff_pixel_assets)

    assets = make_real_tiff_pixel_assets(spark, 16)
    meta = decode_assets(assets, fake=False)
    hashes = dhash_images(assets, project=("asset_id",))
    return meta.join(hashes, "asset_id").select(
        "asset_id", "n_bytes", "sha256", "width", "height", "n_frames",
        "dhash")


def q_multimodal_webp_pixels(spark, sf_dir):
    # hash-pinned (r15): WebP-lossless RASTER decode through the
    # pure-Python VP8L codec (canonical prefix codes, subtract-green,
    # varying-alpha legs) — differential-pinned byte-exact against the
    # reference libwebp decoder in tests/test_vp8l.py, frozen here.
    # Same pixel pattern as the TIFF/BMP fixtures, so cross-container
    # dHash equality pins the whole decode path. Same plan shape as
    # multimodal_tiff_pixels: one broadcastable join of two
    # Arrow-batched outputs on asset_id.
    from seqspark.pipeline.multimodal import (
        decode_assets, dhash_images, make_real_webp_pixel_assets)

    assets = make_real_webp_pixel_assets(spark, 16)
    meta = decode_assets(assets, fake=False)
    hashes = dhash_images(assets, project=("asset_id",))
    return meta.join(hashes, "asset_id").select(
        "asset_id", "n_bytes", "sha256", "width", "height", "n_frames",
        "dhash")


def q_multimodal_webp_lossy(spark, sf_dir):
    # hash-pinned (r16): lossy-WebP RASTER decode through the pure-
    # Python VP8 key-frame decoder (bool coder, token partitions,
    # segmentation, all intra modes, normal+simple loop filters, ALPH
    # alpha planes via the VP8L alpha stream) — Y/U/V planes pinned
    # BYTE-EXACT against the reference libwebp decoder in
    # tests/test_vp8_lossy.py, frozen here over the committed 8-file
    # corpus (there is deliberately no lossy encoder in this repo).
    # Same plan shape as multimodal_webp_pixels: one broadcastable
    # join of two Arrow-batched outputs on asset_id.
    from seqspark.pipeline.multimodal import (
        decode_assets, dhash_images, make_real_webp_lossy_assets)

    assets = make_real_webp_lossy_assets(spark, 8)
    meta = decode_assets(assets, fake=False)
    hashes = dhash_images(assets, project=("asset_id",))
    return meta.join(hashes, "asset_id").select(
        "asset_id", "n_bytes", "sha256", "width", "height", "n_frames",
        "dhash")


def q_multimodal_mp3(spark, sf_dir):
    # hash-pinned (r14): the audio_meta PLANNER tier over MPEG audio —
    # container sniff, frame-header walk (MPEG1/2/2.5, Layer I/II/III,
    # per-frame VBR bitrate accounting, ID3v2 skip, ID3v1 stop, padding
    # bits) all frozen: rate, channels, exact sample count and duration
    # per asset WITHOUT decoding samples. One Arrow-batched mapInPandas,
    # header bytes only — the shape that lets a 100 TB audio corpus be
    # duration-budgeted before any decode CPU is spent.
    from seqspark.pipeline.multimodal import audio_meta, make_real_mp3_assets

    return audio_meta(make_real_mp3_assets(spark, 16))


def q_multimodal_ogg(spark, sf_dir):
    # hash-pinned (r14): the audio_meta planner tier over Ogg — the RFC
    # 3533 page walk (capture pattern, lacing incl. 255-spans, the Ogg
    # CRC-32 verified per page), Vorbis and Opus identification headers,
    # duration from the audio stream's last granule (Opus: 48 kHz
    # granule clock, pre-skip subtracted per RFC 7845), multiplexed
    # foreign-BOS skip — all frozen. Same Arrow-batched header-only
    # shape as multimodal_mp3.
    from seqspark.pipeline.multimodal import audio_meta, make_real_ogg_assets

    return audio_meta(make_real_ogg_assets(spark, 16))


def q_multimodal_oggflac(spark, sf_dir):
    # hash-pinned (r15): FLAC-in-Ogg through the same RFC 3533 page
    # walk — the 0x7F "FLAC" BOS mapping (xiph ogg_mapping: mapping
    # version + header-packet count + the native fLaC STREAMINFO head),
    # rate/channels from STREAMINFO, duration from the last granule on
    # the NATIVE sample clock (no pre-skip). The one Ogg BOS kind the
    # r14 walker honestly raised on.
    from seqspark.pipeline.multimodal import (
        audio_meta, make_real_oggflac_assets)

    return audio_meta(make_real_oggflac_assets(spark, 16))


def q_multimodal_webp(spark, sf_dir):
    # hash-pinned (r14): WebP metadata through the stdlib RIFF walk —
    # VP8 lossy key-frame dims, VP8L lossless 14-bit dims, VP8X canvas
    # with animated ANMF frame counts, odd-size chunk alignment — all
    # frozen; header-only by design (VP8 entropy decode needs a real
    # codec, the honest raise stays). Same shape as multimodal_tiff.
    from seqspark.pipeline.multimodal import (
        decode_assets, make_real_webp_assets)

    assets = make_real_webp_assets(spark, 16)
    return decode_assets(assets, fake=False).select(
        "asset_id", "n_bytes", "sha256", "width", "height", "n_frames")


def q_multimodal_isobmff(spark, sf_dir):
    # hash-pinned (r14): the ISO-BMFF box walk feeding THREE planner
    # tiers at once — MP4 video (tkhd 16.16 dims + stsz frame count,
    # largesize moov, multi-track), M4A audio (mdhd v0/v1 sample clock
    # + mp4a channel count via decode_assets' (nch, 0, samples)
    # shaping) and AVIF/HEIC stills (meta/iprp/ipco/ispe; animated avis
    # pict-track counts) — all frozen; sample bitstreams (H.26x/AAC/
    # AV1) keep the honest raise.
    from seqspark.pipeline.multimodal import (
        decode_assets, make_real_isobmff_assets)

    assets = make_real_isobmff_assets(spark, 16)
    return decode_assets(assets, fake=False).select(
        "asset_id", "n_bytes", "sha256", "media_type", "width", "height",
        "n_frames")


def q_audio_features_adpcm(spark, sf_dir):
    # hash-pinned (r13): the audio DSP kernel over IMA-ADPCM WAV — every
    # sample flows through the nibble decoder (block headers, adaptive
    # step ladder, 4-byte channel-group deinterleave). The fixture
    # carries the SAME signals as the FLAC fixture, so the frozen
    # lossy-vs-lossless feature drift is itself inspectable.
    from seqspark.pipeline.multimodal import (
        audio_features, make_real_adpcm_assets)

    assets = make_real_adpcm_assets(spark, 16)
    return audio_features(assets, fake=False)


def q_multimodal_webp_anim(spark, sf_dir):
    # hash-pinned (r15): ANIMATED WebP — VP8L-framed ANMF composition
    # (sub-canvas rectangles with halved x/y offsets, dispose-to-
    # background, spec alpha blending) through the same full-canvas
    # frame-dHash shape as the GIF/APNG/Y4M/MJPEG siblings; lossy-VP8
    # animations keep the honest raise.
    from seqspark.pipeline.multimodal import (
        frame_dhashes, make_real_webp_anim_assets)

    return frame_dhashes(make_real_webp_anim_assets(spark, 8), fake=False)


def q_frame_sample_mjpeg(spark, sf_dir):
    # hash-pinned (r12b): REAL frame extraction from a COMPRESSED video
    # container — MJPEG-in-AVI, each frame an independent baseline JPEG
    # through the stdlib Huffman+IDCT decoder (seqspark/pipeline/jpeg.py)
    # — digested against frozen literals like the GIF/APNG/Y4M siblings;
    # inter-frame codecs keep the honest raise
    from seqspark.pipeline.multimodal import (
        make_real_mjpeg_assets, sample_frames)

    assets = make_real_mjpeg_assets(spark, 12)
    out = sample_frames(assets, n_samples=3, fake=False)
    return out.select(
        "asset_id", "n_frames", "frame_index",
        F.sha2(F.col("frame"), 256).alias("frame_sha"),
    )


def q_multimodal_resize_jpeg(spark, sf_dir):
    # hash-pinned (r12b): stdlib resize over BASELINE JPEG pixels — the
    # r12b Huffman + vectorized-IDCT decoder covering gray/444/422/420,
    # restart intervals, 16-bit DQT and odd dimensions — digests frozen
    # by tools/gen_multimodal_expected.py like the PNG set
    from seqspark.pipeline.multimodal import (
        make_real_jpeg_assets, resize_images)

    assets = make_real_jpeg_assets(spark, 16)
    return resize_images(assets, 32, 16, fake=False, codec="stdlib").select(
        "asset_id",
        F.lower(F.sha2(F.col("content"), 256)).alias("sha256"),
        F.length("content").alias("n_bytes"),
        "width",
        "height",
    )


def q_image_dhash_jpeg(spark, sf_dir):
    # hash-pinned (r12b): perceptual dHash over decoded JPEG rasters —
    # frozen per-asset hash values (a JPEG pixel-path regression moves
    # the luma grid and fails the contract)
    from seqspark.pipeline.multimodal import dhash_images, make_real_jpeg_assets

    assets = make_real_jpeg_assets(spark, 16)
    # project=: only (asset_id, dhash) crosses back from Python — the
    # JPEG bytes never make the return Arrow trip (r12b)
    return dhash_images(assets, fake=False, project=("asset_id",))


def q_frame_sample_gif(spark, sf_dir):
    # hash-pinned (r12): REAL animated-GIF frame extraction — the stdlib
    # LZW decoder + disposal/transparency/interlace compositing — over the
    # deterministic GIF fixture; each selected frame's RGBA-PNG re-encode
    # is digested against literals frozen ONCE by
    # tools/gen_multimodal_expected.py (converting the last honest-raise
    # in sample_frames' real path into hash-checked coverage)
    from seqspark.pipeline.multimodal import (
        make_real_gif_assets, sample_frames)

    assets = make_real_gif_assets(spark, 16)
    out = sample_frames(assets, n_samples=3, fake=False)
    return out.select(
        "asset_id", "n_frames", "frame_index",
        F.sha2(F.col("frame"), 256).alias("frame_sha"),
    )


def q_multimodal_decode(spark, sf_dir):
    # hash-pinned (r11, formerly rows-only): REAL stdlib-codec decode —
    # PNG header parse + WAV meta — over the deterministic real-asset
    # fixture, compared against digests frozen ONCE by
    # tools/gen_multimodal_expected.py (a regression in the decode
    # kernels fails the contract instead of moving the oracle)
    from seqspark.pipeline.multimodal import decode_assets, make_real_assets

    assets = make_real_assets(spark, 64)
    return decode_assets(assets, fake=False).select(
        "asset_id", "media_type", "n_bytes", "sha256", "width", "height", "n_frames"
    )


def q_join_broadcast(spark, sf_dir):
    # beyond-reference: broadcast dim join (orders ⋈ customer) — the pattern
    # every enrichment join should take at 100 TB (no shuffle of the fact side)
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


def q_shipping_priority(spark, sf_dir):
    # TPC-H Q3 shape. Only the true dim (customer, 150k rows/sf1) gets a
    # broadcast hint; orders is a FACT table (1.5M rows/sf1, TB at the 100×
    # target) so its join is left to AQE — at bench sf it still broadcasts,
    # at scale it becomes a shuffle join instead of OOMing executors
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.to_timestamp(F.lit("1995-03-15"))
    return (
        li.filter(F.col("l_shipdate") > cutoff)
        .join(
            orders.filter(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cust.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_local_supplier_volume(spark, sf_dir):
    # TPC-H Q5 shape: the true dims (region/nation/customer/supplier)
    # broadcast; orders is a FACT table so its join is left to AQE —
    # broadcast at bench sf, shuffle join at the 100× target where a
    # forced hint would OOM executors
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    supplier = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supplier), F.col("l_suppkey") == F.col("s_suppkey")
        )
        .join(
            F.broadcast(cust),
            (F.col("o_custkey") == F.col("c_custkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_lineitem_pricing_summary(spark, sf_dir):
    # TPC-H Q1-shaped scan-heavy aggregate — the bench workhorse
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.to_timestamp(F.lit("1998-09-02")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ------------------------------------------------------------ round-3 entries


def q_complex_search(spark, sf_dir):
    # one filtered scan → total + date histogram + two aggs, stacked into a
    # tagged union (reference `proxyapi/grpc_complex_search.go:14-60`)
    st = _events_table(spark, sf_dir)
    week = 7 * 86400000
    res = st.complex_search(
        "event_type:click or event_type:view",
        size=0,
        with_total=True,
        hist_interval_ms=week,
        aggs=[
            AggQuery(func="count", field="event_type"),
            AggQuery(func="sum", field="value", group_by="event_type"),
        ],
    )
    rows = [("total", "", float(res.total_count))]
    rows += [("hist", None if b is None else str(b), float(c))
             for b, c in res.histogram_rows]
    rows += [("count", a["name"], a["value"]) for a in res.agg_buckets[0]]
    rows += [("sum", a["name"], a["value"]) for a in res.agg_buckets[1]]
    out = spark.createDataFrame(rows, "part string, name string, value double")
    return out.withColumn(
        "value",
        F.when(F.col("part") == "sum", F.round("value", 3)).otherwise(F.col("value")),
    )


def q_agg_notexists_bucket(spark, sf_dir):
    # engine-path NotExists: docs whose group token is missing land in the
    # legacy `_not_exists` bucket (`frac/processor/aggregator.go:219-227`)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "maybe_type", F.when(F.col("event_id") % 3 != 0, F.col("event_type"))
    )
    st = SearchTable.from_typed(
        ev,
        {"maybe_type": "keyword", "event_id": "keyword"},
        ts_col="ts",
        rid_col="event_id",
        assume_folded=True,
    )
    out = st.aggregate(AggQuery(func="count", field="maybe_type"))
    return out.select("name", F.col("value").cast("long").alias("cnt"))


def q_agg_sum_notexists(spark, sf_dir):
    # per-group bucket NotExists for field aggs (`aggregator.go:83-87`)
    ev = load_table(spark, sf_dir, "events").withColumn(
        "maybe_val", F.when(F.col("event_id") % 4 != 0, F.col("value"))
    )
    st = SearchTable.from_typed(
        ev,
        {"maybe_val": "keyword", "event_type": "keyword", "event_id": "keyword"},
        ts_col="ts",
        rid_col="event_id",
        assume_folded=True,
    )
    out = st.aggregate(AggQuery(func="sum", field="maybe_val", group_by="event_type"))
    return out.select(
        "name", F.round("value", 3).alias("sum_value"), "not_exists"
    )


def q_agg_unique_total(spark, sf_dir):
    # distinct-count the unique agg exposes as its Total
    st = _events_table(spark, sf_dir)
    out = st.aggregate(AggQuery(func="unique", field="event_type"))
    return out.agg(F.count(F.lit(1)).cast("long").alias("total_unique"))


def q_agg_bucket_order(spark, sf_dir):
    # reference bucket ordering (`seq/qpr.go:216-253`): value DESC, name ASC
    # — materialized as a rank column so the hash compare verifies ORDER
    from pyspark.sql import Window

    st = _events_table(spark, sf_dir)
    out = st.aggregate(AggQuery(func="count", field="event_type"))
    w = Window.orderBy(*SearchTable.bucket_order_cols("count"))
    return out.withColumn("rank", F.row_number().over(w)).select(
        "rank", "name", F.col("value").cast("long").alias("cnt")
    )


def q_keyset_pagination(spark, sf_dir):
    # search-after cursor pagination: strictly after (ts, rid) — the deep-
    # paging path that costs one top-k scan instead of O(offset)
    st = _events_table(spark, sf_dir)
    return _ev_cols(
        st.search_after(
            "*", last_ts_ms=1704412800000, last_rid=5000, size=100, order="asc"
        )
    )


def q_multitype_keyword_title(spark, sf_dir):
    # multi-type field on a typed table: `props` is text by default and
    # keyword through the implicit `props.keyword` title
    # (`seq/mapping.go:125-166`, integration_test.go:1773-1860)
    ev = load_table(spark, sf_dir, "events")
    st = SearchTable.from_typed(
        ev,
        {
            "props": {
                "types": [
                    {"type": "text"},
                    {"title": "keyword", "type": "keyword"},
                ]
            },
            "event_id": "keyword",
        },
        ts_col="ts",
        rid_col="event_id",
        assume_folded=True,
    )
    # wildcard over the WHOLE value (keyword semantics) — a text match
    # could never see the `9}` punctuation sequence; quoted because `}` is
    # not a bare-token rune, with `*` still a wildcard inside quotes
    # (`parser/seqql.go:276-292`)
    return st.search("props.keyword:'*9}*'").select("event_id")


def q_inverted_index_and(spark, sf_dir):
    # SURVEY §7.2: materialized (field, token, id) index; a token-AND query
    # = pruned index scan → group/having → semi-join (posting-list
    # intersection, `node/node_and.go:41-56` / `frac/sealed_index.go:218-266`)
    from seqspark.engine import materialize_tokens
    from seqspark.index import build_inverted_index, search_tokens

    docs = load_table(spark, sf_dir, "documents")
    tok = materialize_tokens(docs, {"text": "text"})
    idx = build_inverted_index(tok, {"text": "__tok_text"}, id_cols=["doc_id"])
    out = search_tokens(docs, idx, "text", ["table", "scan"], id_cols=["doc_id"])
    return out.select("doc_id", "lang", "source")


def q_two_phase_fetch(spark, sf_dir):
    # hash-pinned (r15): the reference's ACTUAL search architecture as
    # one operator — top-(size+offset) ids from the posting lists alone
    # (narrow index scan + TakeOrdered in (mid, rid) order,
    # `frac/sealed_index.go:218-266`), then ONE id-page fetch
    # (`storeapi/grpc_fetch.go:42-216`) where rid blooms skip row
    # groups. Measured winner on wide corpora (BASELINE.md §r15:
    # 0.28x the scan at x10, 0.67x at x100 on ~3 KB bodies).
    from seqspark.engine import materialize_tokens
    from seqspark.index import build_inverted_index

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_millis(F.col("doc_id") * 1000)
    )
    tok = materialize_tokens(docs, {"text": "text"}).withColumn(
        "mid", F.unix_millis(F.col("ts"))
    )
    idx = build_inverted_index(
        tok, {"text": "__tok_text"}, id_cols=["mid", "doc_id"]
    )
    st = SearchTable.from_typed(
        docs, DOCS_MAPPING, ts_col="ts", rid_col="doc_id",
        assume_folded=True,
    ).attach_index(idx, ["text"], ["mid", "doc_id"])
    return st.two_phase_search(
        "text:table and text:sc*",
        from_ms=50_000, to_ms=450_000, size=40, offset=5, order="desc",
    ).select("doc_id", "lang", "source")


def q_two_phase_residual(spark, sf_dir):
    # hash-pinned (r16): PARTIALLY index-covered two-phase — the
    # covered conjunct (text:table) drives the posting-only id page,
    # the residual NOT conjunct is re-checked on the fetched rows with
    # geometric page refill until size+offset rows survive (the
    # reference's fetch-then-FieldsFilter shape,
    # `storeapi/grpc_fetch.go:42-216`)
    from seqspark.engine import materialize_tokens
    from seqspark.index import build_inverted_index

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "ts", F.timestamp_millis(F.col("doc_id") * 1000)
    )
    tok = materialize_tokens(docs, {"text": "text"}).withColumn(
        "mid", F.unix_millis(F.col("ts"))
    )
    idx = build_inverted_index(
        tok, {"text": "__tok_text"}, id_cols=["mid", "doc_id"]
    )
    st = SearchTable.from_typed(
        docs, DOCS_MAPPING, ts_col="ts", rid_col="doc_id",
        assume_folded=True,
    ).attach_index(idx, ["text"], ["mid", "doc_id"])
    return st.two_phase_search(
        "text:table and not text:scan", size=30, offset=3, order="asc",
    ).select("doc_id", "lang", "source")


def q_export_keyset(spark, sf_dir):
    # export-style full ordered drain of a filtered set (size=None)
    st = _events_table(spark, sf_dir)
    return _ev_cols(st.search("event_type:error and value:[40, *]", order="asc"))


def q_pii_scrub(spark, sf_dir):
    # PII masking over synthetic-PII-bearing text (the corpus itself is
    # clean, so plant deterministic emails/IPs per doc)
    from seqspark.pipeline.scrub import pii_scrub

    docs = load_table(spark, sf_dir, "documents")
    dirty = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com at 10.0.0."), (F.col("doc_id") % 256).cast("string"),
    )
    return docs.select("doc_id", pii_scrub(dirty).alias("clean"))


def q_decontaminate(spark, sf_dir):
    # flag corpus docs sharing any 8-gram with a benchmark set (docs 0-19)
    from seqspark.pipeline.scrub import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20).select(
        F.col("text").alias("btext")
    )
    out = decontaminate(docs, bench, "doc_id", "text", "btext", n=8)
    return out.select("doc_id", "contaminated")


def q_repetition_ratio(spark, sf_dir):
    from seqspark.pipeline.scrub import repetition_ratio

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.round(repetition_ratio(F.col("text"), n=3), 4).alias("rep")
    )


def q_case_sensitive_eq(spark, sf_dir):
    # --case-sensitive mode: no folding at index or query time
    # (`tokenizer/tokenizer.go:15-48` gate)
    ev = load_table(spark, sf_dir, "events")
    st = SearchTable.from_typed(
        ev,
        {"event_type": "keyword", "event_id": "keyword"},
        ts_col="ts",
        rid_col="event_id",
        case_sensitive=True,
    )
    return st.search("event_type:click").select("event_id", "event_type")


def q_corpus_curation(spark, sf_dir):
    # LLM-training-data curation chain: quality gate → exact dedup →
    # per-doc token budget — one declarative plan, no Python in the loop
    from seqspark.pipeline.dedup import exact_dedup
    from seqspark.pipeline.textstats import quality_score, token_count

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.withColumn("q", quality_score(F.col("text"))).filter(
        F.col("q") >= 0.5
    )
    kept = exact_dedup(scored.withColumn("h", F.md5("text")), ["h"], "doc_id")
    return kept.select(
        "doc_id",
        F.round("q", 4).alias("quality"),
        token_count(F.col("text")).cast("long").alias("n_tokens"),
    )


def q_hash_sample(spark, sf_dir):
    # deterministic content-keyed sampling: membership is a pure function
    # of (doc_id, seed) — stable across reruns/repartitions, unlike
    # df.sample (seqspark/pipeline/sampling.py)
    from seqspark.pipeline.sampling import hash_sample

    docs = load_table(spark, sf_dir, "documents")
    return hash_sample(docs, "doc_id", 0.25, seed="v1").select("doc_id", "source")


def q_hash_split(spark, sf_dir):
    # disjoint deterministic train/val/test split from the same hash
    from seqspark.pipeline.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(
        docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}, seed="v1"
    ).select("doc_id", "split")


def q_train_shuffle(spark, sf_dir):
    # training OUTPUT layout: deterministic global shuffle + fixed shard
    # assignment — (shard, pos) is a pure function of (doc_id, seed), so
    # reruns/repartitions/incremental rebuilds produce the identical
    # layout. One hash-partitioned shuffle, per-shard window rank: no
    # global sort funnel (seqspark/pipeline/sampling.py train_shuffle)
    from seqspark.pipeline.sampling import train_shuffle

    docs = load_table(spark, sf_dir, "documents")
    return train_shuffle(docs, "doc_id", shards=8, seed="v1").select(
        "doc_id", "shard", "pos"
    )


def q_mix_sources(spark, sf_dir):
    # epoch mixing: per-source up/down-weighting by deterministic
    # repetition — weight 2.5 → 2 copies + hash-chosen 50% a third
    from seqspark.pipeline.sampling import mix_sources

    docs = load_table(spark, sf_dir, "documents")
    return mix_sources(
        docs,
        "source",
        {"src0": 2.5, "src1": 2.0, "src2": 0.5, "src3": 0.0},
        key_col="doc_id",
        seed="v1",
    ).select("doc_id", "source", "copy")


def q_embedding_dup_clusters(spark, sf_dir):
    # composition: exact embedding near-dup pairs (the same bounded kernel
    # as embedding_cosine_pairs) -> connected components -> cluster roots;
    # shows embedding dedup and graph labeling compose end-to-end
    from seqspark.pipeline.dedup import dup_clusters

    pairs = q_embedding_cosine_pairs(spark, sf_dir)
    return dup_clusters(pairs).select(
        F.col("id").alias("vec_id"), F.col("root").alias("cluster_root")
    )


def q_multimodal_resize(spark, sf_dir):
    # hash-pinned (r11, formerly rows-only): REAL stdlib nearest-neighbor
    # PNG resize (decode → resample → re-encode), output bytes digested
    # IN-ENGINE (F.sha2 over the binary column) and compared against the
    # frozen expected digests — audio rows drop per on_other='drop'
    from seqspark.pipeline.multimodal import make_real_assets, resize_images

    assets = make_real_assets(spark, 64)
    # codec='stdlib' pins the kernel the frozen digests were generated
    # from — an environment gaining Pillow must not shift the contract
    return resize_images(assets, 32, 16, fake=False, codec="stdlib").select(
        "asset_id",
        F.lower(F.sha2(F.col("content"), 256)).alias("sha256"),
        F.length("content").alias("n_bytes"),
        "width",
        "height",
    )


#: fixed k-means centroids (k=4, dim=64) for the semantic-dedup entries:
#: trained ONCE via `ivf_train(k=4, iters=5, sample_order="id")` on the
#: sf0.01 embeddings (id-order = the oracle-replay seeding mode),
#: rounded to 6 decimals and frozen as literals so the DuckDB oracle can
#: replicate the exact cell assignment (centroids are inputs, not outputs,
#: of SemDeDup-style dedup)
SEMDEDUP_CENTROIDS: list[list[float]] = [
    [0.033493, -0.020694, 0.020575, -0.029421, 0.018005, -0.012202, -0.013685, 0.016735, 0.046333, -0.019294, 0.027382, -0.050595, -0.028354, -0.035077, -0.033433, 0.014992, 0.020965, 0.047931, 0.022585, 0.039306, -0.035204, 0.012499, 0.001258, -0.013402, -0.037954, 0.014519, 0.029393, 0.034704, -0.005512, 0.02856, 0.002477, 0.055549, 0.006289, -0.01476, 0.008219, 0.009777, -0.034968, 0.00374, -0.005019, 0.040447, -0.001016, -0.028123, 0.008404, 0.028389, -0.006417, 0.033034, 0.015913, -0.000636, -0.023682, 0.002282, 0.016692, 0.014679, 0.039796, -0.052296, 0.027627, -0.014513, 0.003416, -0.001111, -0.025128, -0.033078, -0.029792, -0.004926, -0.023516, -0.032204],
    [-0.023607, 0.002035, 0.031498, -0.010068, -0.017604, 0.022323, -0.039918, 0.026526, -0.021199, 0.079815, -0.055989, 0.027718, 0.033003, -0.044653, 0.026257, -0.004664, 0.011041, -0.020246, 0.002886, -0.010216, 0.017778, 0.011819, 0.000543, -0.026992, 0.035869, 0.033793, -0.021592, 0.004533, -0.000531, 0.016636, 0.006151, 0.009759, -0.005063, 0.018737, 0.033127, 0.00425, -0.015879, -0.032559, -0.001087, -0.049307, -0.013274, -0.008386, 0.030975, 0.007542, -0.017674, -0.006888, -0.037751, 0.010071, -0.054993, -0.025741, -0.014282, 0.01933, -0.015865, 0.033191, 0.003753, 0.007921, 0.014469, -0.000662, -0.0025, 0.034269, -0.037721, 0.008029, -0.016919, -0.039698],
    [0.015107, 0.008254, -0.012395, 0.027636, 0.036129, 0.02194, -0.032059, 0.003643, -0.015696, -0.059878, 0.016905, 0.004369, -0.036848, 0.025284, -0.019475, 0.019216, -0.017409, 0.015974, -0.019557, -0.026872, 0.007989, 0.0052, 0.031819, -0.011817, 0.002384, -0.035861, -0.015318, -0.003497, 0.020325, -0.007305, 0.0099, -0.063695, -0.020171, -0.00816, -0.00682, 0.011142, 0.001687, 0.033864, 0.009187, 0.02448, -0.000568, -0.012333, 0.021796, 0.014797, -0.052058, 0.003985, 0.016363, 0.021776, 0.026582, 0.028875, 0.017322, -0.009146, 0.000239, 0.00713, 0.02328, 0.020145, 0.014, -0.020598, -0.02216, 0.014377, 0.033707, -0.004156, 0.043042, 0.043965],
    [-0.018408, -0.009435, -0.021001, -0.011904, -0.000802, -0.002635, 0.014054, -0.008816, -0.01747, 0.006482, 0.034709, 0.031948, 0.026714, 0.058162, 0.028697, -0.007833, 0.001794, -0.021981, -0.004984, 0.006425, -0.007196, -0.020371, -0.020685, 0.019977, -0.007792, 0.045695, 0.00269, 0.008665, -0.021732, -0.03469, 0.003316, -0.016305, 0.055679, -0.021765, -0.011619, -0.021622, 0.026395, -0.016788, -0.008316, -0.024388, 0.007449, 0.001523, -0.061918, -0.054559, 0.035274, -0.014844, 8.1e-05, -0.009684, 0.031694, -0.051884, 0.016212, -0.029142, 0.007579, -0.004628, -0.038092, -0.03078, -0.013773, 0.014923, 0.032572, -0.052624, 0.027062, 0.022264, -0.013611, -0.033439],
]


#: fixed 64-d query for the PQ entry: SEMDEDUP centroid 0 (already a
#: frozen literal input)
PQ_QUERY = SEMDEDUP_CENTROIDS[0]

#: frozen SQ8 per-dimension bounds (r14): (mins, invs) from a one-time
#: id-ordered 400-vector train at sf0.01 — INPUT literals like
#: SEMDEDUP_CENTROIDS (the quantizer is defined BY these numbers; any
#: corpus works with any bounds, recall just tracks their fit)
SQ_BOUNDS = (
    [-0.366539, -0.409497, -0.340171, -0.399964, -0.360501, -0.351993,
     -0.418898, -0.416176, -0.380706, -0.329569, -0.371737, -0.433843,
     -0.403942, -0.467645, -0.338209, -0.316463, -0.375889, -0.423745,
     -0.391647, -0.311202, -0.428121, -0.302534, -0.333694, -0.468478,
     -0.387906, -0.382189, -0.385737, -0.319389, -0.393388, -0.483361,
     -0.455012, -0.407459, -0.381865, -0.334067, -0.316009, -0.362675,
     -0.525206, -0.338691, -0.355766, -0.343586, -0.385972, -0.380225,
     -0.356627, -0.396885, -0.417665, -0.400791, -0.317732, -0.437289,
     -0.311783, -0.343334, -0.320105, -0.470477, -0.378748, -0.343886,
     -0.27372, -0.390303, -0.331706, -0.436871, -0.414895, -0.381678,
     -0.313926, -0.303902, -0.310907, -0.361478],
    [353.143366, 337.447893, 345.014318, 310.956142, 380.869793, 350.953171,
     318.413114, 331.909143, 316.319984, 338.007686, 369.450057, 314.563115,
     333.873143, 311.533784, 355.436691, 368.931122, 328.913338, 313.605744,
     340.021326, 403.03721, 337.821035, 358.903317, 337.306826, 300.090034,
     362.793459, 326.1386, 311.172894, 387.808065, 361.030787, 292.839232,
     323.65829, 337.041268, 377.91726, 344.684329, 367.454351, 328.386957,
     292.355342, 339.569846, 348.160254, 355.338337, 338.971035, 317.245595,
     339.892283, 331.591069, 337.616213, 353.956713, 395.285202, 311.395218,
     394.842467, 379.742348, 385.027574, 298.044091, 357.961632, 369.259725,
     397.989698, 365.152496, 365.261659, 284.838382, 351.77572, 378.438574,
     360.642057, 394.216905, 389.727246, 375.838166],
)


#: frozen OPQ rotation (64x64, orthogonal): trained ONCE by opq_train(m=8, k=8,
#: iters=5, opq_iters=6, sample=2048, sample_order="id") on the sf0.01 embeddings — an INPUT
#: of the entry (the SEMDEDUP_CENTROIDS standing)
OPQ_ROTATION = [
    [0.573172, 0.267644, -0.152818, 0.11465, 0.296821, -0.031399, 0.069281, 0.255712, -0.091139, -0.000281, -0.050264, 0.057596, 0.176285, -0.001781, -0.062328, -0.027497, -0.005587, -0.095848, -0.068248, 0.011063, -0.116162, -0.003947, 0.029218, -0.098857, -0.081031, -0.017848, -0.094954, 0.045851, -0.055279, -0.047474, -0.035834, 0.086858, -0.08055, 0.040464, 0.169719, 0.010482, -0.148177, 0.151882, 0.056291, 0.155262, -0.073553, 0.095842, 0.111112, -0.023153, -0.109065, -0.103249, 0.122805, 0.016257, -0.031199, 0.082198, -0.026289, -0.120027, -0.116619, -0.134927, 0.029662, 0.082439, 0.031626, 0.109517, -0.001781, -0.116506, 0.044341, -0.047209, -0.124976, 0.022543],
    [0.210462, 0.405469, 0.073663, -0.299632, -0.436147, 0.059386, 0.095004, -0.083707, -0.009174, 0.025113, 0.044766, -0.024373, 0.078926, -0.06377, 0.050248, 0.006989, -0.153726, 0.060706, -0.024765, 0.102183, 0.040913, -0.179122, -0.054688, 0.049922, 0.004487, -0.043554, 0.181006, -0.050574, 0.069826, 0.048793, -0.081567, 0.069249, -0.12735, -0.023266, -0.05395, -0.11691, 0.11882, 0.179154, 0.016718, 0.123, -0.016103, -0.067146, 0.140661, 0.041823, 0.167356, -0.00533, -0.17038, 0.087408, 0.057692, 0.060946, 0.176001, 0.127393, -0.071797, 0.005698, 0.147512, -0.190078, 0.049642, -0.049634, -0.13931, -0.031992, 0.01579, 0.041595, -0.023093, 0.073527],
    [-0.033412, 0.044106, 0.632432, 0.157063, 0.122466, -0.019626, -0.026451, -0.037489, 0.177858, -0.085756, -0.105239, -0.074671, 0.126675, -0.003007, -0.070751, -0.055434, -0.04935, -0.011051, 0.073068, 0.098455, 0.032321, 0.236187, -0.019993, -0.129938, 0.044652, -0.113988, 0.04028, 0.049452, -0.08305, 0.059447, -0.162437, -0.10434, -0.065653, 0.186087, -0.001219, -0.047975, -0.100422, 0.23571, 0.022536, 0.107364, 0.137847, 0.025308, 0.062325, 0.009577, 0.026566, -0.164462, 0.061169, 0.071264, 0.004511, 0.09358, 0.094924, 0.16258, 0.021253, 0.127657, -0.099397, 0.039854, 0.100619, 0.041565, 0.143629, 0.057429, -0.075088, 0.059333, 0.137165, 0.035735],
    [0.123065, -0.140008, -0.113088, 0.434251, -0.181116, 0.058292, -0.002199, 0.075913, 0.077192, -0.047901, 0.191192, -0.000322, -0.11024, -0.010091, -0.011456, -0.023329, 0.01656, 0.017725, -0.292231, 0.070571, 0.032681, 0.131724, 0.030626, 0.102408, 0.072706, 0.009075, -0.033556, -0.102729, 0.082336, -0.340637, 0.08046, 0.194068, -0.050858, 0.038594, -0.160813, 0.123915, -0.008002, 0.013459, 0.058529, 0.146864, 0.127755, -0.162333, 0.149288, -0.058394, -0.021116, -0.174319, -0.086325, 0.008222, 0.032518, -0.205274, 0.059503, 0.183157, -0.056179, 0.108099, 0.02251, -0.03211, 0.000746, 0.035259, -0.019173, -0.016207, -0.040031, 0.281656, 0.020214, -0.047375],
    [0.148096, -0.360471, 0.068588, -0.224283, 0.501251, 0.06594, -0.031206, -0.128921, 0.011046, -0.022853, -0.037549, 0.063719, -0.207875, -0.064622, 0.054116, 0.008639, -0.028957, 0.083007, -0.009735, 0.003771, 0.099371, -0.091064, -0.159644, 0.084976, -0.086754, 0.074793, 0.011794, -0.125803, 0.068596, -0.000923, 0.0082, 0.007803, 0.01005, 0.048793, 0.074988, -0.112807, 0.113624, 0.068828, 0.221339, 0.084368, -0.115236, 0.122757, 0.11054, 0.054415, 0.153072, -0.157905, -0.227038, -0.0012, 0.100629, -0.075355, -0.0165, 0.176335, -0.052043, -0.027256, 0.221095, -0.077798, 0.062895, -0.047461, -0.090961, -0.025973, 0.029771, 0.059757, 0.029018, -0.082129],
    [0.096702, 0.006306, -0.057452, 0.097095, -0.083025, 0.767356, -0.092908, 0.002205, 0.068274, -0.034698, -0.065938, 0.090503, 0.011845, -0.106851, 0.047147, 0.032344, 0.121689, -0.054328, 0.070117, 0.037564, -0.072495, 0.030953, 0.082284, 0.024129, -0.01527, 0.079987, 0.106309, 0.067204, 0.002321, 0.050066, 0.063488, -0.165819, -0.14918, 0.007993, 0.019016, -0.03284, 0.009629, -0.002088, -0.101913, -0.059368, -0.006757, 0.101026, 0.091821, 0.025469, 0.119122, -0.12007, 0.087659, -0.114431, 0.036336, 0.014036, -0.212329, -0.028167, 0.0623, 0.016574, -0.036046, -0.150228, -0.057668, 0.0789, 0.021791, 0.07216, -0.042601, -0.116337, 0.137248, -0.121752],
    [0.010731, 0.080425, -0.11204, 0.198638, 0.111663, -0.101183, 0.541064, -0.084351, -0.060426, -0.102754, -0.102372, -0.038447, 0.015525, -0.02965, 0.060866, 0.127024, 0.102952, 0.183003, -0.025752, -0.005225, -0.085698, 0.067358, -0.013408, 0.069506, -0.004247, 0.009418, -0.098351, 0.181566, 0.07274, -0.002551, 0.01898, -0.184621, -0.126809, 0.027861, -0.210633, 0.104522, 0.184664, -0.036767, -0.03808, -0.020963, 0.171824, 0.049096, -0.11988, 0.149117, 0.013921, -0.050797, -0.124942, 0.045751, 0.065786, 0.135741, 0.021964, 0.151262, -0.090223, -0.013611, -0.033925, -0.045873, 0.158293, -0.075628, -0.107456, 0.101657, 0.005121, -0.289049, 0.019719, -0.186331],
    [0.181556, -0.335377, 0.008615, -0.021347, -0.190333, -0.095089, -0.11278, 0.564835, 0.043728, 0.009313, -0.077172, 0.093866, 0.073846, -0.095936, 0.026664, 0.082918, -0.140056, 0.032613, 0.165723, -0.022555, 0.068941, -0.057797, -0.118633, 0.101455, -0.006088, 0.068292, -0.030737, 0.222631, 0.085797, 0.094876, 0.08391, -0.200338, -0.014634, -0.036331, 0.035308, -0.012456, -0.059607, -0.001965, 0.132281, 0.020209, 0.16613, 0.009923, -0.055046, 0.228826, -0.033891, 0.060177, 0.034482, 0.067382, 0.079372, 0.024539, 0.141529, 0.001824, 0.046411, 0.192894, -0.067805, -0.123432, -0.055415, -0.091922, -0.106912, 0.019495, -0.091688, 0.010166, -0.044819, 0.012861],
    [-0.029963, -0.017484, -0.111494, -0.165929, 0.023728, -0.032024, 0.157648, 0.030987, 0.654318, 0.156887, -0.104166, 0.042745, -0.13515, -0.019136, 0.0253, 0.031174, -0.007933, -0.032733, -0.065318, 0.026752, 0.104435, 0.125524, -0.057798, -0.093527, 0.042131, -0.018999, -0.014218, 0.039395, -0.079739, -0.103926, 0.040584, 0.005643, 0.073057, 0.007291, -0.140699, -0.14942, 0.01107, 0.172065, -0.138083, 0.111315, 0.024284, -0.027281, -0.017102, -0.057264, -0.088811, -0.064083, 0.027765, 0.00274, -0.014327, -0.187014, -0.00069, -0.217179, -0.065775, -0.122408, 0.012157, -0.112199, -0.079126, -0.004201, -0.033222, -0.085529, -0.245534, -0.224708, -0.092128, 0.058579],
    [-0.092245, 0.099822, 0.031356, 0.074542, 0.071442, -0.012988, 0.00989, 0.102232, 0.09059, 0.804219, 0.028268, -0.05486, 0.128199, -0.027294, 0.008043, -0.044113, 0.063018, 0.022784, -0.043294, 0.010129, 0.021648, 0.061692, 0.116504, 0.058791, -0.064758, 0.197331, -0.080091, -0.09887, 0.026783, 0.000276, -0.124945, -0.044936, -0.042725, 0.032481, 0.031474, 0.075519, 0.088278, 0.010258, -0.005145, -0.058565, -0.031937, 0.133979, -0.010473, 0.025262, 0.10806, 0.04604, -0.0166, 0.118715, 0.014782, 0.05191, -0.084182, 0.061824, 0.024073, 0.186889, 0.052828, -0.015157, 0.029968, 0.033846, -0.062987, 0.02479, 0.08751, 0.117658, -0.078126, -0.142673],
    [-0.001946, -0.026588, -0.13069, -0.021549, 0.215907, -0.00586, -0.003674, 0.094783, 0.050939, -0.049427, 0.685778, -0.124302, 0.092122, 0.009274, -0.014796, -0.074007, -0.101228, -0.033294, 0.087765, 0.176254, -0.015807, 0.178484, -0.002867, -0.032158, -0.016611, -0.184641, 0.110884, 0.15601, -0.021776, 0.090325, -0.000833, 0.009613, -0.007978, -0.010546, -0.013182, -0.105899, -0.011853, -0.060448, -0.23818, -0.083977, 0.010921, 0.088472, 0.08619, 0.057199, 0.081392, 0.090212, -0.021768, 0.197128, 0.126802, -0.031428, 0.073319, 0.027657, 0.163795, -0.112236, 0.064092, -0.118721, 0.035276, 0.012932, 0.026423, 0.139205, -0.01035, -0.018005, -0.027473, -0.051537],
    [-0.191832, 0.212294, -0.095905, 0.039327, 0.193398, -0.070298, -0.075031, 0.213464, 0.02002, -0.109308, -0.102954, 0.454586, 0.059357, 0.03347, 0.133255, 0.076136, 0.015106, -0.101785, 0.168236, 0.176922, 0.248085, 0.097154, 0.141564, -0.005323, -0.113486, 0.045192, 0.273427, -0.040701, 0.014734, 0.048484, 0.063091, 0.038024, -0.160341, 0.061052, -0.160528, 0.053528, -0.038387, -0.042917, -0.093708, -0.0013, 0.046688, -0.142557, -0.044083, -0.11485, 0.077973, -0.036181, -0.209699, -0.112124, 0.009863, 0.003504, 0.006657, 0.036449, 0.104384, 0.111237, 0.125484, 0.102226, 0.08867, -0.091389, 0.044193, -0.172562, 0.102829, 0.024434, -0.115268, -0.019499],
    [0.10437, -0.33103, 0.076844, 0.148082, -0.129957, -0.016721, -0.08712, -0.237317, -0.125553, 0.180686, 0.076137, 0.159044, 0.414955, -0.000872, 0.109236, 0.282022, 0.110535, -0.006218, 0.023437, 0.025445, -0.068204, 0.043778, -0.043059, -0.03978, -0.011251, -0.15966, 0.066051, -0.048896, -0.196056, -0.033583, -0.041896, 0.06917, -0.094058, 0.017429, -0.080054, -0.114709, 0.091283, 0.074145, -0.006913, -0.001159, -0.006095, 0.074763, 0.053203, 0.03934, -0.095616, -0.027325, -0.081545, -0.1798, -0.067951, -0.087756, 0.009613, -0.134098, -0.03993, -0.088322, 0.05371, 0.02994, 0.079161, -0.295687, -0.021811, 0.094292, 0.016183, -0.117206, -0.198788, 0.154604],
    [-0.048838, -0.041595, -0.059489, -0.04219, -0.057398, 0.031015, 0.140189, 0.049918, -0.003811, -0.047299, -0.043387, 0.014501, 0.124537, 0.78929, 0.051313, -0.039667, 0.011706, -0.159699, 0.003941, -0.10664, 0.00403, 0.079289, -0.080215, 0.076862, 0.046164, 0.055553, 0.017595, -0.037278, -0.006873, -0.056153, 0.037275, 0.059826, -0.169465, 0.11768, -0.00923, -0.09069, 0.069493, -0.008547, 0.113029, 0.04599, -0.136725, 0.189016, 0.06937, 0.068955, 0.096482, 0.03683, 0.022941, 0.015535, 0.110265, 0.030902, 0.028226, 0.042969, 0.09951, 0.080601, -0.002795, 0.072623, -0.134011, 0.072578, -0.052709, 0.016289, -0.18291, -0.009343, 0.045368, 0.031109],
    [-0.086313, 0.013376, 0.044381, -0.036928, 0.082227, 0.038604, 0.014612, 0.026922, 0.061537, -0.075156, 0.015738, -0.031608, 0.229197, 0.022863, 0.721414, -0.107276, 0.051914, -0.059948, -0.006912, -0.102948, -0.081711, -0.183066, -0.010779, 0.04226, -0.02707, 0.09775, -0.080339, 0.012749, 0.076145, -0.141469, 0.026212, 0.084161, 0.216337, -0.087554, -0.048421, -0.158108, -0.054447, 0.100733, -0.11887, 0.037426, 0.050539, -0.114057, -0.040761, 0.164019, -0.117543, -0.121108, 0.051358, 0.089342, -0.06283, 0.08759, -0.005593, -0.023392, 0.004419, 0.001282, -0.000412, -0.038826, 0.080711, 0.100565, 0.08923, 0.076432, 0.111105, 0.140191, 0.029977, -0.062567],
    [0.002605, 0.151781, 0.085881, -0.110177, 0.162564, 0.028438, -0.076474, -0.00996, 0.054009, -0.049518, -0.046021, 0.025798, 0.128281, 0.046812, -0.075401, 0.707519, -0.005622, 0.047121, -0.05966, 0.060901, 0.025524, -0.07641, 0.037794, 0.046876, 0.219084, -0.000837, -0.125718, 0.07022, 0.174619, -0.061647, 0.040506, 0.176761, 0.128327, 0.024062, 0.065213, 0.1233, 0.025069, -0.00165, -0.099324, -0.057722, 0.035542, -0.017021, -0.090998, 0.047763, 0.129522, 0.03429, 0.183003, 0.045125, 0.07264, -0.110368, -0.0411, 0.156338, 0.049387, -0.046431, 0.012723, -0.061936, -0.138183, 0.098133, 0.031957, 0.102747, -0.048997, 0.129333, -0.089408, 0.010657],
    [-0.013051, 0.03575, 0.057061, -0.057077, -0.144114, -0.128624, -0.132195, 0.093169, 0.006641, -0.003032, -0.052469, -0.091898, -0.10065, 0.127008, -0.023923, 0.059369, 0.474533, 0.099826, -0.158596, -0.070964, 0.017287, 0.068242, -0.057706, 0.151785, -0.069298, -0.131271, 0.058536, 0.168112, -0.123598, 0.206939, 0.058371, -0.036918, 0.123655, -0.158655, -0.006529, 0.080055, -0.147127, 0.041471, -0.118083, -0.1734, 0.031015, 0.148837, 0.17576, 0.153049, 0.098886, -0.252513, -0.118956, -0.047174, 0.020278, 0.015348, -0.044213, -0.018616, 0.016526, -0.16443, 0.073085, -0.000504, 0.221693, 0.110192, -0.016213, -0.226641, -0.073964, 0.153893, -0.098775, -0.068111],
    [0.081447, -0.086818, -0.091123, -0.066673, 0.017421, 0.050693, -0.132625, -0.011948, 0.003876, -0.036924, -0.059853, 0.106707, 0.217249, 0.155559, -0.145057, -0.183205, -0.01482, 0.613658, 0.038511, -0.071646, 0.181194, -0.020944, 0.245447, 0.079478, 0.0237, -0.096532, 0.065838, -0.017535, 0.017562, 0.025086, -0.075488, 0.019452, 0.133061, 0.170989, -0.076417, 0.02345, 0.066293, 0.028949, -0.173361, -0.003403, -0.085223, -0.088137, -0.070611, -0.068158, -0.291687, -0.13189, 0.050669, 0.142639, 0.00204, 0.127419, -0.099695, 0.058521, -0.01407, -0.001777, 0.079018, -0.059439, -0.069255, 0.045442, -0.107986, 0.057297, -0.060143, 0.021546, 0.034318, -0.00432],
    [0.024331, 0.14387, 0.04759, -0.01339, -0.144349, -0.036461, -0.11546, 0.109859, 0.037247, -0.029823, 0.130521, -0.077613, -0.097975, 0.040585, 0.00878, 0.067464, -0.020069, 0.195544, 0.482552, -0.104658, -0.08578, 0.334885, -0.36778, -0.110624, 0.009488, 0.154487, -0.152943, -0.129704, 0.088712, -0.117381, 0.052904, 0.109305, 0.021701, 0.123188, 0.020541, 0.091238, 0.146265, -0.019789, -0.058737, 0.066185, -0.107044, -0.018039, -0.014568, 0.091937, -0.040256, -0.107057, -0.01477, -0.209419, -0.07885, -0.030917, -0.151455, -0.048167, -0.038246, -0.039381, 0.091617, -0.000996, 0.142483, 0.063758, -0.052769, 0.009683, 0.176092, -0.038297, 0.007923, -0.04723],
    [-0.037852, -0.045445, 0.151702, 0.058735, -0.01176, -0.02238, -0.036399, 0.05017, -0.157752, 0.031162, -0.129674, -0.02541, -0.052861, 0.101883, 0.103249, -0.083411, -0.103313, 0.14154, -0.154466, 0.698557, -0.054386, -0.059919, -0.16938, 0.178398, 0.074064, 0.028808, -0.084054, -0.115306, -0.013009, 0.002222, 0.064812, -0.033455, 0.017726, 0.111527, -0.020553, 0.048704, -0.129954, -0.085858, -0.079539, 0.10135, -0.012334, 0.013264, -0.059961, 0.004544, 0.060585, 0.073037, -0.027485, -0.027074, -0.070282, 0.014912, -0.083547, -0.264568, 0.080219, -0.137023, 0.028735, -0.08126, 0.025079, 0.164194, -0.124358, 0.068094, -0.038277, -0.105738, -0.054213, -0.02776],
    [-0.006913, -0.014344, -0.112446, 0.075769, 0.013706, 0.149164, 0.086955, 0.105341, -0.163032, -0.009938, 0.018945, -0.30999, -0.037059, -0.05248, 0.125678, 0.145507, -0.039932, 0.121883, -0.128957, -0.153868, 0.622666, 0.023022, -0.11263, -0.033531, 0.070677, -0.005482, 0.030864, 0.044246, -0.006833, 0.046077, -0.075617, 0.039363, -0.012252, 0.129413, 0.024118, -0.039123, -0.01327, 0.199481, -0.018477, 0.100627, -0.069859, 0.102568, -0.026372, -0.119628, 0.103897, 0.12744, -0.077254, -0.095823, -0.185177, 0.04922, 0.068355, -0.19631, 0.120364, -0.004884, -0.185141, 0.078534, 0.11018, -0.016319, 0.070445, 0.044038, 0.022422, 0.032989, -0.005481, -0.044852],
    [0.023547, 0.133138, 0.081236, -0.110517, -0.032216, 0.062367, -0.102747, -0.066779, -0.196137, -0.021909, -0.060983, 0.08311, -0.027147, -0.022128, -0.00136, -0.053812, -0.198835, -0.168148, -0.187508, -0.039488, 0.173036, 0.515538, 0.125291, 0.302778, -0.076966, 0.162751, -0.212983, 0.06832, -0.00491, 0.012419, 0.134511, 0.095252, 0.094475, -0.01057, -0.085711, -0.110451, -0.042647, 0.092387, 0.110812, -0.185072, -0.004042, 0.012216, -0.079023, 0.10448, -0.112333, -0.007306, 0.076475, 0.149995, 0.077929, -0.02569, -0.061623, -0.035891, -0.061236, -0.140865, 0.043424, -0.106189, 0.064222, -0.255918, -0.006444, 0.039872, 0.033807, -0.062416, 0.04583, 0.032879],
    [0.103862, 0.018062, 0.043818, -0.181442, 0.03657, -0.075604, -0.136015, 0.126287, -0.057887, 0.009815, -0.091128, -0.230689, -0.01125, 0.070668, 0.270161, 0.005648, 0.14638, 0.160945, -0.168824, 0.045089, -0.152154, 0.259933, 0.239168, -0.320005, 0.074167, 0.035405, 0.099568, 0.144152, -0.015316, 0.041582, 0.069082, -0.065617, -0.072432, 0.029596, 0.068492, 0.173806, 0.095771, -0.045924, 0.1175, 0.097096, -0.000584, -0.149858, 0.100146, -0.017279, 0.029102, 0.142058, -0.275137, -0.012193, 0.004419, -0.151865, -0.074825, -0.025987, -0.04064, -0.023314, 0.014847, -0.055165, -0.296728, -0.148143, 0.125443, 0.086305, 0.055709, -0.056951, 0.114024, -0.014818],
    [-0.02841, -0.001427, -0.03616, -0.072846, 0.048941, -0.03672, 0.048439, 0.089664, 0.079071, -0.017716, -0.000602, -0.153662, 0.108494, -0.205333, 0.077522, -0.016747, 0.264323, -0.122555, 0.218765, 0.00845, -0.075834, 0.131363, 0.091095, 0.601966, 0.24633, -0.080424, 0.11332, -0.034486, 0.073595, -0.008489, -0.212957, 0.034322, 0.003162, 0.144003, 0.042337, 0.064005, 0.012915, -0.142616, 0.139714, 0.145075, -0.182538, -0.034843, 0.035499, -0.168489, -0.028748, -0.011306, 0.006863, -0.089344, 0.027238, 0.063237, 0.154303, -0.031002, -0.078076, -0.094184, -0.046911, 0.000836, -0.079374, -0.020737, 0.050654, -0.000198, -0.068491, -0.041299, 0.049105, 0.052043],
    [0.064499, -0.06574, -0.141655, -0.197698, -0.006063, -0.020155, 0.005898, 0.029186, -0.159587, 0.136446, -0.082369, 0.216674, -0.019272, -0.10277, -0.013648, -0.172455, 0.075903, -0.077216, -0.124536, -0.010702, 0.008578, 0.110698, -0.184768, -0.169064, 0.706327, -0.059167, -0.050634, -0.01905, -0.013077, 0.039438, 0.041255, -0.011927, -0.078433, 0.043895, -0.085253, -0.154176, -0.064029, -0.014241, -0.163417, -0.057223, 0.025543, 0.027705, -0.02992, 0.041351, -0.038642, -0.031355, -0.007682, -0.058451, 0.080656, 0.074844, 0.008479, 0.185184, -0.008452, 0.053917, 0.009085, 0.058351, 0.08482, 0.097996, 0.133733, 0.044463, 0.086289, 0.018414, 0.01745, 0.002343],
    [0.151882, -0.036798, 0.057618, 0.059485, -0.055103, -0.106257, 0.024559, -0.106365, 0.031707, -0.119383, 0.179376, 0.145247, 0.033595, 0.060769, -0.074687, -0.010608, 0.092232, -0.047605, 0.036801, 0.082761, 0.02534, -0.027659, 0.068336, 0.061106, 0.166183, 0.626961, 0.154941, 0.103881, -0.051563, 0.045714, -0.165001, -0.049576, 0.308283, -0.122055, 0.083175, 0.030558, 0.03323, 0.24962, -0.040579, -0.026474, 0.079582, 0.065703, 0.091593, -0.126686, -0.072572, 0.153854, -0.172569, -0.073353, -0.01765, -0.051079, -0.070103, 0.055429, 0.025883, 0.019804, -0.091813, 0.076617, 0.018786, 0.10855, -0.076728, 0.058325, -0.015227, -0.116964, 0.011472, -0.015655],
    [-0.10834, -0.097886, 0.004042, -0.079315, 0.027675, 0.045054, 0.202338, 0.069668, -0.076256, 0.063847, -0.168338, -0.107184, 0.226529, -0.086318, -0.139147, 0.014659, -0.09588, 0.098899, -0.106455, -0.030092, -0.142019, 0.130248, -0.206434, -0.03952, -0.129324, 0.131576, 0.527486, -0.065723, 0.069515, -0.118339, 0.054509, 0.152593, -0.010435, -0.141729, -0.03191, 0.077349, -0.166736, 0.052168, -0.002554, -0.005988, -0.093092, 0.067008, -0.149005, 0.047324, -0.166572, 0.028801, 0.056078, -0.039939, 0.235017, -0.154911, 0.074553, 0.014676, 0.097588, -0.146068, -0.101145, -0.092131, 0.057483, 0.097886, 0.093486, -0.079005, 0.109135, 0.06472, 0.106939, -0.053376],
    [-0.121073, 0.031464, -0.029323, 0.046548, 0.058605, 0.083139, -0.147757, -0.247204, 0.02588, 0.07815, -0.021169, 0.066616, 0.114916, 0.017302, -0.00591, -0.104976, -0.010162, 0.011056, -0.01157, 0.074767, 0.06754, -0.00661, -0.342762, 0.005126, -0.011577, 0.089542, -0.072876, 0.689315, 0.018534, -0.037461, -0.03612, 0.057966, -0.150011, -0.026254, 0.030444, 0.072985, 0.121129, -0.107011, 0.057494, 0.132421, -0.015701, -0.049601, -0.006902, -0.151866, -0.105422, 0.030573, 0.013511, 0.016063, 0.002342, 0.073445, 0.079269, -0.012175, -0.09501, -0.056552, 0.041936, -0.036164, -0.110496, 0.018112, -0.039576, -0.195136, 0.05268, 0.176011, -0.026737, -0.014984],
    [0.068206, -0.021503, 0.061941, 0.030427, -0.014444, -0.008746, -0.0149, -0.055259, 0.003637, 0.057134, 0.027537, 0.020621, 0.041166, 0.085348, -0.118898, -0.13507, 0.156046, -0.144949, -0.008559, 0.109693, 0.086046, -0.028454, -0.045579, -0.059041, -0.021118, -0.118008, 0.07787, 0.003629, 0.802614, 0.14747, 0.017915, -0.040542, 0.035583, -0.051711, -0.060456, -0.005295, 0.088526, 0.119626, 0.018421, -0.048805, -0.029642, -0.025719, 0.008185, 0.096298, -0.079303, -0.103417, -0.000127, 0.037704, -0.16029, -0.119201, -0.041708, -0.106489, -0.025218, -0.058043, -0.079054, 0.14673, -0.065736, -0.092584, 0.085975, 0.050277, 0.031842, -0.068995, -0.057623, -0.05195],
    [0.010238, -0.115944, 0.011605, 0.139559, -0.012382, -0.014885, -0.026679, -0.000533, 0.167483, -0.054806, 0.011947, -0.078419, 0.081727, -0.029929, 0.07803, 0.011166, -0.108847, -0.090971, -0.123622, -0.12583, 0.000105, 0.029851, -0.016277, -0.038987, -0.030895, 0.194558, -0.08139, -0.226399, 0.064767, 0.635673, 0.032234, 0.172346, -0.176277, 0.035004, -0.091252, 0.068633, 0.015127, -0.136835, -0.142181, 0.158038, 0.095689, 0.03029, -0.073009, -0.037695, -0.063167, 0.056492, -0.029347, -0.085084, 0.031847, 0.158394, -0.050157, 0.136892, -0.137197, -0.261211, 0.003163, -0.089935, -0.094149, 0.07614, -0.067687, -0.043616, -0.014938, 0.101334, -0.032831, 0.090478],
    [0.080863, 0.109465, 0.112539, 0.160427, 0.059425, -0.029404, -0.04259, -0.082497, 0.101928, 0.12261, 0.049228, 0.011232, -0.054485, 0.031923, 0.072098, 0.055583, -0.086029, 0.029732, 0.056703, -0.086102, 0.003908, -0.039028, -0.093887, 0.170268, 0.134324, -0.17657, 0.213224, -0.054943, -0.041217, 0.038159, 0.666976, -0.089463, 0.060879, -0.104263, 0.06048, 0.074764, 0.08571, 0.108981, 0.153118, -0.029448, -0.025941, 0.051689, 0.085545, -0.184337, -0.199721, 0.177257, -0.062923, 0.070409, -0.086159, 0.21617, -0.053069, 0.057211, 0.006328, 0.036347, 0.013923, -0.04002, 0.001714, 0.073936, 0.096805, 0.027345, -0.011811, -0.059745, -0.034274, -0.041691],
    [0.093665, -0.091708, 0.033259, 0.054794, 0.014889, 0.142725, 0.039689, 0.050923, -0.010139, 0.132236, -0.123453, -0.016053, -0.253938, 0.096229, 0.020374, -0.058038, -0.00035, 0.048857, 0.239972, 0.078116, -0.077903, -0.027519, 0.155851, 0.021235, 0.064681, -0.126769, 0.134489, 0.185455, -0.069939, 0.133846, -0.047517, 0.660556, 0.038783, -0.077825, 0.006095, -0.078898, 0.096845, 0.010994, 0.09067, -0.04472, 0.23344, -0.014273, -0.129558, 0.070664, 0.072899, 0.084147, -0.045197, 0.118507, -0.029331, -0.026311, -0.01771, -0.046343, -0.107269, 0.029083, -0.098192, 0.111375, 0.150291, 0.05784, 0.009013, 0.055272, 0.024385, -0.069293, 0.013024, 0.002553],
    [-0.054122, 0.056376, 0.210697, 0.118975, 0.001887, 0.236678, 0.142135, 0.287139, -0.075722, -0.012862, -0.011408, 0.122294, 0.009323, 0.007741, -0.055754, -0.117997, 0.143922, -0.035461, -0.086357, -0.061931, -0.049407, -0.010343, -0.106488, -0.174589, -0.024947, -0.096093, -0.006755, 0.006216, -0.025169, 0.002776, 0.005668, -0.01411, 0.549395, 0.112653, -0.194921, -0.045944, 0.192664, -0.101203, 0.054485, 0.072719, -0.085736, 0.040226, -0.021522, -0.162079, 0.136047, 0.186344, 0.042994, -0.0509, 0.138502, 0.0569, 0.107022, 0.057004, -0.079711, -0.150643, 0.110875, -0.021124, -0.064855, -0.15086, -0.085121, 0.006098, 0.051402, 0.050495, -0.164698, 0.031086],
    [-0.052616, -0.09849, -0.076007, -0.093924, -0.150154, -0.075707, 0.115683, -0.053707, -0.020709, 0.055016, 0.049097, 0.102419, -0.057053, -0.048401, 0.029478, 0.066376, 0.016969, -0.119637, -0.059542, 0.000697, -0.077407, -0.045565, -0.023279, 0.004345, -0.176716, -0.021319, 0.08247, 0.10539, 0.008037, 0.037735, 0.128591, 0.081062, 0.115378, 0.744929, 0.204499, -0.01359, -0.120907, 0.076906, -0.063253, -0.167136, 0.084558, 0.004807, 0.098479, -0.008066, -0.036558, -0.047675, -0.046562, 0.027445, -0.059237, 0.008223, -0.007728, 0.079731, -0.090654, 0.003296, -0.145728, -0.064705, -0.115062, 0.076274, -0.010673, -0.071165, 0.192261, -0.048078, 0.029618, -0.0774],
    [0.181373, 0.011903, 0.173396, 0.020959, 0.097193, -0.189215, -0.04855, 0.020167, -0.091295, 0.040846, -0.084522, -0.081863, -0.009492, 0.022316, -0.162943, -0.086265, 0.03221, -0.206124, 0.117972, -0.160502, 0.125056, -0.250768, -0.012017, 0.118849, 0.05339, 0.095071, 0.145025, 0.037696, -0.178714, -0.092309, 0.101266, -0.029992, -0.120436, 0.129455, -0.323062, 0.016228, 0.17588, -0.044629, -0.270151, 0.026794, 0.072759, -0.143332, 0.091389, 0.118097, 0.105135, 0.034326, 0.122494, 0.036379, -0.011145, -0.156147, -0.129038, -0.203573, -0.035195, -0.177219, 0.026271, -0.08362, -0.097226, -0.074136, 0.016928, 0.113338, 0.071278, 0.134174, 0.182054, -0.203987],
    [-0.043014, 0.032383, -0.020471, -0.056497, 0.032471, 0.114883, 0.071834, 0.04407, 0.055717, 0.032808, 0.084506, 0.113951, 0.038505, 0.107689, 0.024087, -0.161249, -0.114424, -0.119493, -0.025122, -0.027155, 0.11116, -0.12394, -0.18798, 0.012177, 0.108824, -0.077753, 0.025764, -0.080858, -0.143572, 0.00336, -0.111581, 0.04484, 0.07556, -0.04398, 0.237908, 0.654842, -0.001023, 0.082562, 0.005192, -0.10041, 0.109443, -0.031146, -0.110283, 0.090993, 0.029209, -0.252277, -0.091818, 0.020773, -0.011899, 0.03018, -0.017538, -0.036165, -0.060477, -0.094222, -0.01697, -0.102873, -0.030102, -0.260032, 0.09421, 0.158031, -0.052282, -0.051691, 0.01324, 0.072702],
    [0.011999, -0.063996, -0.104256, -0.042153, -0.023713, -0.088063, 0.033879, 0.050349, -0.017686, -0.07057, -0.110749, -0.020189, 0.045589, -0.069253, -0.004275, -0.007504, -0.175953, -0.184297, -0.116951, 0.089059, -0.059916, 0.108853, 0.048982, 0.045629, -0.026179, -0.131735, 0.053131, 0.063495, -0.128622, 0.121892, -0.054673, -0.058922, 0.131525, -0.03331, -0.009215, 0.048837, 0.586641, 0.021013, 0.025487, 0.079437, -0.14503, -0.007748, 0.010196, 0.039237, -0.01189, -0.213221, 0.044539, 0.018805, -0.149929, -0.080749, -0.20386, 0.065142, 0.293106, 0.104831, -0.209902, -0.079441, 0.076945, 0.221646, -0.007026, -0.061484, 0.135923, 0.070736, -0.090883, 0.145587],
    [-0.204119, -0.068736, -0.084513, -0.040162, 0.100422, 0.061743, -0.037929, 0.072031, -0.103213, -0.023761, 0.073858, -0.028852, -0.150124, 0.035192, -0.02587, -0.021491, -0.046257, 0.087131, 0.004068, -0.045062, -0.340474, -0.039682, 0.053725, 0.138423, 0.052955, -0.033081, -0.089587, 0.051994, 0.011984, 0.109704, -0.026196, -0.029214, -0.135705, 0.039106, -0.252354, 0.141247, -0.00404, 0.678883, -0.028236, 0.024695, 0.011414, -0.019132, -0.022073, -0.035158, 0.038038, 0.105861, 0.139216, -0.150495, -0.002875, 0.018049, 0.051016, -0.067365, 0.042251, 0.053786, 0.116227, -0.000897, -0.10462, -0.067804, -0.013549, -0.080526, 0.112101, 0.082684, -0.101155, 0.044212],
    [-0.109162, 0.062904, -0.081295, -0.096685, 0.003793, 0.05291, -7.1e-05, -0.015384, 0.040689, 0.029878, 0.204696, 0.098554, 0.106216, 0.027516, -0.053461, 0.093305, -0.056639, 0.063376, -0.010424, -0.00765, 0.005494, -0.023337, 0.101202, -0.116771, 0.135502, 0.060303, 0.071419, -0.03685, -0.060459, 0.092955, -0.031085, -0.15048, 0.027264, 0.116075, -0.228229, -0.007216, 0.013604, -0.071442, 0.620461, -0.037876, 0.232032, -0.044904, -0.017958, 0.108957, -0.012025, -0.125792, 0.061887, -0.011127, -0.105074, 0.001375, 0.054438, -0.259283, -0.056412, -0.223883, 0.048715, 0.027867, 0.104235, 0.254912, 0.022889, 0.015305, 0.01522, 0.11874, 0.070948, -0.107084],
    [-0.239201, 0.005606, -0.078104, 0.077433, -0.052168, -0.074804, -0.170654, -0.012652, -0.100171, 0.057311, 0.040142, 0.142899, -0.145872, 0.054087, -0.064164, 0.085325, 0.038023, -0.046945, -0.090744, -0.097337, 0.045576, 0.061824, 0.099083, 0.033503, 0.006281, -0.072673, 0.190214, 0.00607, 0.025226, -0.072451, -0.016819, -0.092955, 0.071808, -0.087252, 0.247591, -0.079164, 0.002382, 0.051488, -0.086896, 0.624512, 0.150133, 0.109641, -0.049951, 0.190894, 0.058418, -0.059024, 0.117555, 0.080405, 0.027925, 0.104684, -0.011766, 0.005116, -0.136857, -0.105793, 0.071563, -0.023826, -0.025723, 0.032566, -0.07536, 0.110233, 0.20048, -0.17851, 0.083653, -0.014027],
    [0.142271, -0.059179, 0.059511, -0.211068, 0.043168, 0.002772, 0.000883, -0.06355, -0.042206, 0.054307, -0.059908, 0.088267, 0.017133, 0.073588, 0.097444, -0.062266, -0.237713, 0.02887, -0.008092, -0.186346, -0.07978, 0.159316, 0.052568, 0.106951, -0.068663, -0.17245, 0.007721, -0.010834, 0.211442, -0.198392, -0.133326, -0.099328, 0.045063, -0.043676, -0.022157, 0.116561, 0.00469, -0.137889, -0.155338, -0.003482, 0.507111, 0.202147, 0.149814, -0.251082, 0.095383, 0.175536, -0.016836, -0.234553, -0.097102, 0.024743, -0.035207, -0.043292, 0.054348, -0.075148, -0.060147, -0.044439, 0.082782, 0.102325, -0.042477, -0.084219, -0.037335, 0.082955, -0.02761, 0.011148],
    [-0.056893, 0.090648, -0.059207, 0.022764, -0.054691, -0.093999, -0.231116, -0.004497, 0.071925, -0.169451, -0.073022, -0.1172, 0.000595, -0.123315, 0.046903, -0.052911, -0.036255, -0.014668, 0.057087, 0.118149, 0.016297, -0.103553, 0.098473, -0.097334, 0.072803, 0.053744, 0.016562, -0.039886, -0.00039, -0.145115, 0.029041, 0.109647, -0.005963, 0.040557, -0.213519, 0.064078, 0.086628, -0.021816, 0.022125, -0.072569, 0.026191, 0.740894, -0.045811, -0.01522, -0.07345, -0.155398, -0.057224, 0.078356, 0.053427, 0.037432, 0.108027, -0.038401, -0.086935, 0.050969, -0.064251, -0.014773, -0.192665, -0.090727, 0.020075, -0.006261, 0.097255, 0.005651, -0.073408, -0.068028],
    [-0.236816, -0.032906, -0.100281, 0.017961, 0.061066, 0.022065, 0.121971, 0.07277, -0.040013, 0.00257, -0.162396, -0.043509, 0.076705, -0.083698, -0.103498, 0.055181, -0.084003, 0.05899, 0.045027, 0.053889, 0.063621, 0.033593, -0.114353, -0.003655, -0.004579, 0.062294, -0.044562, -0.048213, -0.005974, 0.026734, -0.049819, 0.170376, 0.086014, -0.135577, -0.077331, -0.004196, -0.026953, -0.043062, 0.008553, -0.064513, 0.11402, -0.061547, 0.739749, 0.119739, -0.06248, -0.030161, 0.036786, 0.074426, -0.077809, 0.192408, -0.018866, -0.026123, 0.031951, 0.030808, 0.096332, 0.054713, -0.216359, -0.014191, 0.063275, 0.078873, 0.086871, -0.125879, 0.021994, 0.096025],
    [0.013108, -0.018467, 0.067862, 0.053516, 0.013102, -0.007802, 0.030927, -0.149944, 0.113252, -0.016084, 0.015228, 0.128825, 0.006425, -0.109718, -0.008042, -0.088288, -0.194788, -0.000178, -0.032143, -0.086402, 0.001828, 0.015249, 0.236189, -0.035059, 0.075087, -0.044346, 0.024272, 0.158263, 0.074354, -0.060313, 0.031198, 0.083748, 0.095712, 0.096441, -0.096295, 0.225675, -0.13768, -0.074636, -0.025809, 0.110011, -0.375193, 0.07477, 0.111075, 0.525781, 0.085757, 0.258247, -0.101315, -0.241703, -0.06101, 0.095571, -0.007004, -0.059959, -0.018815, 0.062968, -0.01081, -0.011569, 0.105176, 0.075344, 0.003518, -0.067402, -0.151285, 0.048959, -0.054074, -0.002079],
    [0.008372, -0.021827, -0.072031, 0.143264, 0.005675, -0.204787, -0.02649, -0.083753, 0.051633, -0.070971, -0.038662, 0.090077, 0.163157, -0.165061, 0.006858, -0.190906, 0.024085, 0.169374, -0.022718, -0.092858, -0.039762, 0.150344, -0.057915, -0.014422, 0.031337, 0.073382, 0.102132, -0.015946, 0.043801, -0.08818, 0.140144, 0.112986, -0.023061, -0.05039, 0.134115, -0.129655, 0.01523, 0.099813, 0.075446, -0.166234, 0.015527, -0.079406, -0.117683, -0.015248, 0.619418, -0.122952, 0.091145, -0.015753, -0.066456, 0.200589, -0.037964, -0.085457, 0.064259, -0.100694, -0.099639, -0.019538, -0.263638, 0.017065, -0.110272, 0.060877, -0.091399, 0.016354, -0.087848, 0.041673],
    [0.052671, 0.000444, -0.133825, 0.197959, 0.013706, 0.050848, -0.171909, -0.075572, 0.20317, -0.150278, -0.213194, -0.071192, -0.020391, 0.058421, 0.012499, -0.053261, 0.117285, -0.056379, 0.012907, 0.033589, 0.08081, 0.076022, -0.09372, 0.007215, 0.05471, -0.097901, 0.081482, -0.174292, -0.027984, -0.122288, -0.260128, -0.127729, -0.069842, 0.062332, 0.154464, -0.009499, 0.108226, 0.092162, 0.067081, -0.245592, 0.10549, -0.075895, -0.029702, 0.253962, -0.08036, 0.43295, -0.000832, 0.165083, -0.013373, 0.016388, 0.052737, 0.086365, 0.013781, -0.170056, 0.117511, -0.133656, 0.014157, 0.068602, -0.019904, -0.077885, 0.221121, 0.043019, -0.190153, -0.03605],
    [0.166713, -0.092064, 0.040552, -0.075263, -0.086173, -0.127783, 0.023543, -0.15589, -0.009813, 0.023273, 0.067026, 0.066525, -0.206699, 0.018541, 0.259928, -0.032415, 0.123105, 0.068734, 0.00945, 0.090908, 0.175077, 0.042812, 0.036684, -0.111821, -0.05272, 0.069024, 0.118388, -0.014702, 0.004551, 0.06935, -0.042848, 0.0468, -0.055116, 0.003838, -0.079946, 0.22954, 0.003265, -0.064791, 0.110999, 0.020661, -0.063433, -0.018364, 0.146355, -0.080471, 0.021145, 0.006986, 0.645945, -0.040054, 0.193829, 0.053785, 0.070577, 0.084965, 0.099558, 0.053956, -0.026129, -0.079256, 0.075116, -0.047597, 0.057018, -0.008321, 0.047147, -0.139444, -0.181577, -0.111218],
    [0.004503, -0.122431, 0.086224, 0.001495, -0.08465, 0.047906, 0.078141, -0.03061, -0.093569, -0.019936, -0.008328, 0.261386, -0.116404, -0.062454, 0.090679, 0.123451, 0.047073, 0.027033, 0.130419, -0.155899, -0.108759, 0.075646, -0.039391, -0.065135, 0.050133, 0.034627, -0.040947, -0.052312, 0.042526, -0.02758, -0.09098, -0.054849, -0.106426, -0.005278, -0.141435, 0.168202, -0.125137, 0.000804, -0.036347, 0.109155, -0.193273, 0.060402, 0.072546, -0.139058, 0.082751, 0.059533, -0.132862, 0.670137, -0.083768, -0.009475, -0.075764, -0.139653, 0.083085, -0.15736, -0.16685, -0.016248, 0.025914, 0.060509, 0.004207, -0.097947, -0.020995, 0.074856, -0.054711, 0.08142],
    [0.032208, -0.064698, -0.049904, 0.192062, -0.111846, -0.081528, 0.058547, -0.090326, 0.017398, 0.081172, -0.07454, -0.007418, -0.012655, 0.048152, 0.090533, 0.05298, -0.199806, -0.007642, 0.191006, 0.055387, 0.118932, -0.031408, 0.137349, -0.024596, 0.056804, -0.142922, -0.143579, 0.031713, 0.070706, 0.039507, -0.027065, -0.128617, 0.105303, -0.05155, 0.080263, -0.012607, 0.022352, 0.117128, -0.007468, -0.074531, -0.064959, -0.058867, 0.078795, -0.079372, 0.072261, -0.087839, -0.142391, -0.077936, 0.671357, 0.015871, -0.078716, -0.20518, -0.071794, -0.141689, -0.052747, 0.062546, -0.045972, 0.11629, 0.104961, -0.082623, 0.17803, 0.076872, 0.112136, 0.030377],
    [0.033868, -0.235624, 0.071368, -0.198141, -0.071034, 0.031839, 0.054802, 0.075627, 0.037443, 0.006863, 0.060242, -0.118992, -0.08242, 0.031125, -0.156925, 0.121595, 0.103461, -0.210264, 0.008405, 0.161438, 0.027097, 0.022765, 0.180157, -0.150661, -0.052319, 0.079111, -0.013536, 0.005462, 0.042333, -0.294406, 0.033252, 0.064688, -0.08184, -0.0508, -0.021682, 0.012763, 0.077698, 0.05295, -0.031211, -0.011778, -0.018514, -0.120214, -0.106198, -0.037937, -0.109354, -0.059867, -0.091391, -0.052936, -0.014727, 0.661014, -0.045625, -0.009754, 0.097598, -0.172733, 0.010074, -0.036702, 0.036773, -0.057678, -0.00266, -0.029003, 0.003652, 0.118689, -0.021984, -0.055126],
    [0.097357, 0.013809, -0.012704, 0.159662, 0.100362, 0.057331, -0.125633, -0.065341, -0.035897, 0.146417, -0.113012, -0.025058, -0.208011, 0.148863, 0.02975, 0.096745, -0.157321, -0.004763, 0.007631, -0.086224, -0.129377, 0.047508, 0.093791, -0.039578, 0.071329, 0.137411, 0.0859, 0.020638, 0.038987, 0.048061, -0.000705, -0.095528, 0.077524, 0.005222, 0.004958, -0.006639, 0.031054, -0.104267, -0.176199, -0.146866, -0.110448, -0.104202, 0.026054, -0.006378, -0.014462, -0.251403, -0.044428, -0.030038, -0.135455, 0.039106, 0.680063, -0.090244, 0.130097, -0.088379, -0.007757, -0.079908, 0.006034, 0.029832, -0.096934, 0.056484, 0.088804, -0.057755, 0.013335, 0.076731],
    [-0.107341, -0.087756, -0.070703, 0.094122, -0.108413, -0.093637, 0.100296, 0.133944, -0.084496, 0.089541, -0.100139, 0.013685, -0.002117, -0.022058, 0.137557, -0.012647, -0.11139, -0.057611, 0.198259, 0.139197, 0.096389, -0.017586, 0.152072, -0.117298, 0.012752, -0.056295, 0.011113, 0.118494, 0.010743, -0.055904, 0.012667, -0.073535, -0.031303, -0.072424, 0.068665, 0.021517, -0.014218, 0.13734, 0.012747, -0.131013, -0.16106, 0.133985, 0.048483, -0.106295, 0.027784, 0.015013, 0.153191, -0.054127, -0.284181, -0.156392, -0.029131, 0.376829, -0.139042, -0.408978, 0.19766, 0.011686, 0.051004, 0.036534, -0.102789, 0.044798, -0.155421, 0.08294, 0.265805, 0.038213],
    [0.074207, 0.1159, 0.006689, 0.068654, -0.040949, -0.018263, 0.098459, -0.137096, -0.062967, 0.092682, -0.03786, 0.055899, -0.046478, -0.118589, 0.015908, -0.078762, 0.141301, -0.025301, 0.151828, -0.046207, 0.048712, -0.026353, 0.014398, -0.028289, -0.002077, -0.066952, -0.14775, -0.001183, -0.019142, 0.048553, 0.022554, 0.116616, 0.06254, 0.052601, 0.027743, -0.002566, -0.103197, 0.040829, 0.113421, 0.171771, 0.163624, 0.06421, -0.079236, 0.107766, -0.17345, -0.016449, -0.099412, -0.067039, 0.048412, -0.074976, 0.026391, 0.078117, 0.709463, -0.158955, 0.133814, -0.027663, -0.25754, -0.044922, -0.092389, -0.031351, -0.085848, 0.029396, 0.079242, -0.053994],
    [0.160355, -0.043535, -0.223027, 0.05891, 0.017915, -0.047124, -0.059544, -0.190251, -0.112783, 0.060269, -0.096215, -0.210202, 0.013218, 0.063303, 0.015947, 0.101286, -0.027782, -0.236682, 0.157632, 0.033975, 0.032906, 0.137647, -0.123505, -0.078791, -0.050154, -0.105938, 0.154399, 0.031498, -0.007724, 0.078446, -0.124672, -0.064404, 0.295142, -0.02335, -0.304267, 0.070917, -0.30905, 0.019094, 0.048698, 0.039527, 0.000815, -0.060744, -0.159694, -0.067, 0.083991, -0.063903, -0.047497, 0.053487, -0.083342, 0.11304, -0.15505, 0.045662, -0.108214, 0.289959, 0.210047, -0.206104, -0.130467, 0.104207, -0.074156, 0.037082, -0.052831, -0.009062, 0.037821, 0.036721],
    [0.05121, -0.122373, 0.14093, 0.040732, -0.154188, -0.026577, 0.254102, 0.027497, 0.081119, -0.12379, -0.017432, 0.022245, -0.025849, -0.079171, 0.002532, 0.015987, -0.046118, -0.009893, -0.125019, -0.089922, -0.003987, 0.057079, 0.058033, 0.049573, 0.034703, 0.050134, 0.068603, 0.106662, 0.047231, 0.050786, -0.02557, 0.02611, -0.070134, 0.036466, 0.176016, 0.033194, 0.068269, -0.077252, -0.073097, -0.079999, -0.018634, 0.130591, -0.113931, -0.087038, 0.002105, -0.030853, 0.054415, 0.074162, -0.066337, -0.014007, -0.008917, -0.275374, 0.061942, 0.164205, 0.682702, 0.118591, -0.029424, 0.12158, 0.186079, 0.108279, 0.119029, 0.054428, -0.010157, 0.037798],
    [0.10165, -0.025426, -0.105185, -0.087719, -0.095167, 0.095682, -0.158771, -0.042488, 0.139498, 0.023365, -0.069236, -0.141232, 0.017412, -0.051496, 0.064461, 0.037052, -0.220737, -0.016051, -0.064165, 0.015999, -0.105186, 0.030424, -0.101326, 0.086868, -0.039629, 0.009493, 0.105618, 0.03701, -0.078028, 0.003886, -7.8e-05, -0.102426, 0.087925, 0.08752, -0.105178, 0.085369, -0.026506, -0.020933, -0.045136, 0.059028, 0.008506, -0.073629, -0.024044, 0.04128, 0.079056, -0.031309, 0.014136, 0.121137, 0.059478, 0.048744, -0.027705, 0.166643, 0.095385, -0.141884, 0.055481, 0.744936, 0.002627, -0.105575, -0.063367, 0.057301, -0.035079, -0.047694, -0.087024, -0.190703],
    [-0.113729, -0.039989, -0.196069, 0.030714, -0.006041, -0.028707, -0.167497, -0.041057, 0.071064, -0.063417, -0.189685, -0.202581, 0.216921, 0.00918, -0.119349, -0.089383, 0.011336, -0.081939, 0.03167, -0.041514, -0.118813, -0.116744, 0.100263, -0.113465, 0.109316, 0.131034, -0.079434, 0.048153, 0.140828, 0.010907, 0.176114, 0.062863, 0.066476, 0.188091, 0.078384, 0.070266, -0.019959, 0.014442, 0.045338, 0.128992, 0.066197, -0.024952, 0.121741, -0.177187, 0.148159, 0.026563, 0.02321, 0.12751, 0.102266, -0.043793, -0.013562, -0.05195, 0.186007, 0.002702, 0.14042, -0.162163, 0.543365, -0.192113, 0.002329, 0.025241, -0.089066, -0.087058, 0.003582, 0.045293],
    [-0.029278, -0.094309, 0.031793, -0.1559, -0.018321, 0.050541, -0.130053, -0.015855, -0.130445, -0.003241, -0.018204, 0.009743, 0.185841, -0.14, -0.042259, -0.10109, 0.19255, -0.131828, 0.036162, -0.028851, 0.166998, 0.048923, 0.018106, -0.041999, -0.218931, -0.033836, -0.19878, -0.058424, -0.037567, -0.079336, 0.175915, 0.072, -0.054602, -0.019579, -0.087928, 0.236334, 0.133607, 0.132633, -0.050723, 0.013992, 0.045163, -0.058154, -0.038376, -0.001492, 0.048139, 0.086567, -0.088424, 0.043899, 0.113975, -0.081166, 0.30466, 0.037312, -0.089218, 0.019256, 0.066904, 0.100971, -0.020829, 0.515723, -0.019655, 0.138232, -0.101636, -0.263323, -0.010516, 0.048933],
    [0.117094, -0.028795, -0.182739, -0.024539, -0.087228, -0.004286, 0.030327, -0.066553, 0.028059, 0.05832, -0.064617, 0.079647, -0.008506, 0.088328, -0.111735, -0.028397, 0.009337, 0.136788, 0.109523, 0.126949, -0.034009, -0.002125, -0.021551, 0.108485, -0.198736, 0.112006, -0.130136, -0.011839, -0.067205, 0.031584, 0.035498, -0.076361, 0.102585, 0.003044, -0.063527, -0.072885, 0.013133, -0.003824, -0.025998, 0.160547, 0.027071, 0.048309, -0.065612, 0.050047, 0.150282, 0.04827, -0.037086, -0.01551, -0.121206, 0.017643, 0.128234, 0.141849, -0.009074, -0.10762, -0.032047, -0.068158, -0.015674, -0.036947, 0.765832, 0.073676, -0.008247, 0.105806, -0.060453, 0.017453],
    [-0.019471, 0.100277, -0.060074, -0.017474, -0.023927, -0.10716, -0.075705, 0.044429, 0.138965, -0.021951, -0.121574, 0.152756, -0.142453, -0.01206, -0.019717, -0.007096, 0.035874, -0.02307, -0.085663, -0.078842, -0.064058, -0.015972, -0.081547, 0.016821, -0.162735, -0.076364, 0.00925, 0.125902, 0.020902, 0.018906, -0.115316, 0.029156, -0.110968, 0.003956, -0.064452, -0.039324, -0.122045, 0.019062, 0.096941, -0.029398, -0.140005, 0.030456, 0.067345, -0.144546, -0.098403, 0.033972, -0.102354, -0.116789, 0.089155, 0.035495, -0.06995, 0.000564, 0.067186, -0.053096, -0.092824, -0.053886, 0.100873, 0.078159, -0.077205, 0.758209, 0.058585, 0.168364, -0.104511, -0.001853],
    [0.080849, -0.112368, 0.085332, -0.108744, -0.037634, 0.071028, 0.123122, -0.008723, 0.259357, -0.039362, 0.018137, -0.05321, 0.161396, 0.132574, -0.11447, -0.070885, 0.033293, 0.020403, 0.02659, 0.019354, 0.104015, -0.03466, 0.123863, 0.076775, 0.058096, -0.056021, -0.168222, 0.067819, -0.063908, -0.007987, 0.144366, -0.010085, -0.01681, -0.146137, -0.100937, 0.064816, -0.279651, -0.068657, 0.062121, 0.055067, -0.063456, 0.00779, -0.036425, -0.064866, 0.166467, -0.009654, -0.012262, -0.033069, -0.166315, -0.109793, 0.020343, 0.124582, 0.068817, -0.022875, -0.073989, 0.002204, -0.012641, -0.016856, -0.142873, -0.008019, 0.662789, -0.102664, 0.008103, 0.065019],
    [0.009407, -0.015912, -0.135107, -0.137871, 0.033234, 0.090708, 0.242141, -0.174979, -0.014543, -0.071526, -0.104882, -0.009482, 0.049893, -0.02413, -0.033326, -0.037444, 0.130019, -0.023067, 0.209442, 0.188574, 0.028586, 0.200317, 0.076884, -0.067335, 0.003076, 0.01915, -0.009122, -0.101774, -0.078478, 0.11847, 0.236142, -0.103011, 0.068285, -0.039307, 0.188057, 0.049254, 0.02453, 0.037714, -0.110181, 0.124397, 0.093133, 0.038516, 0.052118, 0.075739, -0.051104, 0.046046, 0.095778, 0.045488, -0.019433, -0.080449, 0.169684, -0.162431, -0.149591, 0.131733, -0.084824, 0.106148, -0.000665, -0.114654, -0.232883, 0.132952, -0.027784, 0.521402, -0.087287, -0.049232],
    [0.134644, 0.012796, -0.12984, -0.002897, 0.007966, -0.084251, -0.099177, 0.00017, 0.180049, -0.000656, 0.022459, 0.215401, 0.046393, -0.022107, 0.029281, 0.110168, 0.140651, 0.039929, -0.163876, 0.10618, -0.057943, 0.041078, -0.159211, -0.000793, -0.108545, -0.101723, -0.069208, -0.08326, 0.01099, 0.074807, -0.046388, 0.087406, 0.084563, -0.024507, -0.067652, 0.077907, 0.124522, 0.049941, -0.023611, -0.043654, -0.057124, 0.084459, -0.012053, -0.011719, 0.061017, 0.194683, 0.082537, 0.015006, -0.02273, 0.151339, 0.116298, -0.129334, 0.062083, 0.109522, -0.023104, 0.078184, 0.089349, -0.106178, -0.04558, -0.040625, 0.070238, 0.042562, 0.713398, 0.024283],
    [0.05587, 0.074845, -0.021634, 0.011564, 0.101152, 0.050788, 0.023754, -0.015711, -0.00192, 0.087265, 0.064924, -0.10604, -0.136666, -0.030454, 0.053557, -0.031065, 0.13766, 0.076554, 0.012352, 0.033669, 0.066056, -0.066589, -0.01567, 0.025764, -0.047528, 0.137251, 0.13025, 0.062639, 0.058286, -0.115131, 0.107708, -0.123941, -0.048534, 0.145145, -0.106313, 0.024033, -0.001966, -0.064333, -0.003242, -0.040087, 0.129056, 0.05498, -0.050523, 0.152868, -0.010671, 0.003835, 0.06342, 0.011443, 0.098903, 0.026845, -0.112394, 0.03826, 0.019427, -0.040407, 0.000298, 0.144482, 0.044139, 0.007859, -0.02613, 0.041697, 0.028885, 0.070176, 0.042442, 0.811611],
]

#: frozen OPQ codebooks (m=8 x k=8 x 8 dims) from the same training run
OPQ_CODEBOOKS = [
    [
        [0.041158, 0.083459, -0.055824, -0.162229, 0.157981, 0.039275, -0.019363, -0.002819],
        [-0.111054, -0.085078, -0.090069, 0.027803, -0.050383, -0.057612, -0.154462, -0.03722],
        [0.016499, -0.028082, -0.148099, 0.052276, -0.09358, 0.078808, 0.110812, 0.030906],
        [-0.039878, -0.03941, 0.075135, 0.011414, 0.069265, -0.030038, 0.090073, -0.15674],
        [-0.026151, 0.015962, 0.060363, -0.045701, -0.057473, -0.179559, 0.053332, 0.13276],
        [-0.03325, -0.126266, 0.056815, 0.035276, 0.10621, 0.106283, -0.112386, 0.098254],
        [-0.053464, 0.116891, 0.061168, -0.032488, -0.114487, 0.108688, -0.084035, -0.039862],
        [0.211458, 0.008582, -0.001884, 0.080548, 0.032267, -0.03691, -0.027348, 0.064387],
    ],
    [
        [0.190535, -0.021202, -0.047223, 0.011045, -0.112613, -0.036702, -0.054362, 0.015894],
        [-0.043719, 0.048878, -0.080228, 0.111902, 0.057629, -0.155858, 0.082487, 0.031484],
        [-0.047031, -0.159955, 0.060292, -0.06634, 0.008535, 0.024101, 0.032445, 0.121194],
        [-0.023362, -0.040862, -0.102669, 0.096158, 0.019582, 0.18901, 0.014977, -0.005532],
        [0.096522, 0.086192, 0.101637, -0.002562, 0.045602, -0.010565, 0.157201, -0.0219],
        [-0.05605, -0.012553, 0.117681, 0.036397, 0.0348, -0.077103, -0.165478, 0.076226],
        [-0.040854, 0.203792, -0.020295, -0.099136, -0.016801, 0.040632, -0.041692, 0.018437],
        [-0.08568, -0.099006, 0.006608, -0.055429, -0.089751, -0.044716, -0.024258, -0.178965],
    ],
    [
        [0.072604, 0.025246, 0.077195, 0.060874, -0.100241, -0.104272, 0.1007, -0.07005],
        [-0.086553, -0.118254, 0.014155, -0.124053, 0.018159, 0.159724, 0.044987, -0.063522],
        [0.018062, 0.134717, 0.019794, -0.036259, 0.180511, -0.008404, 0.079262, 0.01291],
        [-0.064698, -0.063194, -0.020747, 0.10985, 0.036897, 0.025395, -0.11928, -0.087232],
        [-0.003387, 0.046213, 0.129449, -0.015098, -0.029305, 0.070456, -0.050669, 0.129056],
        [0.100293, -0.086809, -0.050785, -0.029449, -0.013186, -0.100493, -0.07588, 0.074764],
        [-0.052138, 0.111824, -0.018906, -0.132653, -0.052469, -0.045158, 0.007114, -0.183101],
        [0.019093, 0.009517, -0.125336, 0.075815, -0.021158, 0.089983, 0.124134, 0.055889],
    ],
    [
        [-0.006472, 0.146463, 0.140336, 0.036774, 0.026141, 0.0776, 0.00176, 0.117413],
        [0.137282, 0.013313, -0.056333, -0.022926, 0.021094, 0.081344, -0.152217, 0.100904],
        [-0.147124, -0.042733, -0.046076, -0.04901, 0.048289, 0.09071, -0.022758, -0.091898],
        [-0.043894, 0.070411, -0.003419, -0.006875, -0.184385, -0.057186, -0.058798, -0.035966],
        [-0.030998, -0.091058, 0.110199, -0.09992, 0.024315, -0.117358, 0.069423, -0.003432],
        [0.132195, 0.1034, -0.004671, -0.00323, 0.056908, 0.021539, 0.081257, -0.138706],
        [-0.032035, -0.015656, -0.018088, 0.196256, 0.073066, -0.097483, -0.064994, -0.035835],
        [0.048342, -0.077591, -0.121472, 0.039925, -0.067551, -0.021909, 0.131113, 0.095459],
    ],
    [
        [-0.139129, 0.044301, 0.047534, -0.142621, -0.062804, 0.076624, -0.045403, -0.069182],
        [0.010776, -0.017342, 0.007337, 0.083072, -0.015726, -0.088913, 0.070331, -0.162908],
        [0.095752, 0.01072, -0.044607, 0.040734, -0.010243, 0.121891, 0.167403, 0.059012],
        [0.153694, 0.148114, 0.05457, 0.02115, 0.040519, -0.037823, -0.047668, -0.002375],
        [-0.072202, 0.012083, -0.123914, -0.042633, -0.176676, -0.052256, -0.014103, 0.012838],
        [-0.006776, -0.041793, -0.030181, 0.083481, 0.090958, 0.078739, -0.127159, 0.038382],
        [-0.069183, -0.122161, 0.061879, -0.004006, -0.023592, 0.060396, 0.061546, 0.095367],
        [0.021801, -0.06958, 0.0127, -0.148638, 0.028884, -0.161531, -0.008837, 0.059983],
    ],
    [
        [-0.029564, 0.051952, -0.117729, 0.077081, 0.012764, 0.11195, 0.092033, -0.102195],
        [0.062037, -0.034812, 0.154111, -0.026788, 0.073755, -0.061126, 0.046914, -0.107256],
        [0.028533, -0.009857, 0.118287, 0.087224, -0.178148, 0.055621, -0.078142, -0.051459],
        [-0.110076, -0.113828, -0.067966, -0.025947, -0.068808, -0.051922, -0.043677, -0.075217],
        [0.044231, 0.079294, -0.093325, -0.068329, 0.058338, -0.001132, -0.164851, 0.096273],
        [-0.07227, 0.137005, -0.044017, -0.02234, -0.071272, -0.143808, 0.078543, 0.034194],
        [0.133841, -0.092971, -0.022303, -0.156721, -0.011627, 0.037382, 0.061854, 0.059821],
        [-0.055794, -0.070818, 0.035168, 0.091062, 0.066133, 0.056173, 0.005983, 0.154779],
    ],
    [
        [-0.11872, 0.071429, 0.050084, -0.019171, 0.115419, -0.063462, -0.060436, 0.084157],
        [-0.086033, -0.123657, 0.052793, 0.031536, -0.130145, 0.051703, 0.034905, 0.06053],
        [0.138439, 0.095823, 0.072596, -0.058051, -0.032079, -0.014511, 0.111816, 0.066996],
        [0.108236, -0.170136, 0.023265, -0.13432, 0.00632, 0.025418, -0.065956, -0.03562],
        [-0.082978, 0.054257, -0.057304, -0.008104, 0.065572, 0.045393, 0.122985, -0.099271],
        [0.005758, 0.106593, 0.082179, 0.012533, -0.073575, -0.010635, -0.128387, -0.156738],
        [0.043424, 0.001143, -0.141308, 0.069381, -0.008682, -0.034331, -0.079952, 0.066526],
        [-0.049391, -0.099811, 0.15266, 0.102935, 0.092146, -0.068996, 0.006579, 0.007634],
    ],
    [
        [0.024915, 0.02395, -0.038636, -0.089202, -0.134894, -0.047476, 0.081454, -0.124391],
        [0.058026, 0.001052, 0.095522, 0.104087, -0.060576, 0.029247, -0.094864, -0.080115],
        [0.016358, -0.066868, -0.043227, 0.086577, -0.007116, 0.15058, 0.123174, 0.009612],
        [-0.061561, -0.06464, 0.129566, -0.100999, 0.117708, 0.037055, -0.035159, -0.09738],
        [0.126832, -0.089455, -0.035216, -0.076991, 0.030681, -0.013655, 0.035145, 0.121876],
        [-0.059879, 0.090747, -0.034481, -0.033207, -0.081788, -0.019861, -0.108468, 0.117158],
        [-0.09945, 0.08413, 0.062882, 0.064401, 0.075956, -0.11788, 0.147062, 0.010518],
        [-0.004302, 0.018368, -0.201148, -0.041352, 0.114652, -0.025229, -0.02378, -0.076543],
    ],
]

#: frozen residual-PQ codebooks (m=8 x k=8 x 8 dims): _pq_fit on the sf0.01
#: sample's residuals against the frozen SEMDEDUP_CENTROIDS (ivf_assign cells)
PQ_RESIDUAL_CODEBOOKS = [
    [
        [0.01551, 0.046564, -0.039443, -0.124773, 0.112693, -0.016535, -0.048608, -0.003334],
        [-0.047819, -0.035242, -0.017635, 0.021013, -0.035712, -0.03503, -0.132312, -0.083671],
        [0.028237, -0.008896, -0.159514, 0.047184, -0.041556, 0.064758, 0.059071, 0.016243],
        [-0.088521, 0.00693, 0.046567, 0.0561, 0.050535, 0.003254, 0.115683, -0.069032],
        [-0.028288, -0.016402, 0.039242, 0.0004, -0.014302, -0.202695, 0.080909, 0.076104],
        [0.003903, -0.129623, 0.064002, 0.006553, 0.077811, 0.07322, -0.069884, 0.087485],
        [-0.033211, 0.115983, 0.061019, -0.052738, -0.122754, 0.08134, 0.009169, -0.010775],
        [0.17699, 0.0099, 0.037512, 0.036724, -0.015065, -0.020983, 0.019749, 0.053083],
    ],
    [
        [0.105489, 0.036235, -0.062561, 0.093596, -0.094426, -0.025921, -0.040918, -0.014079],
        [-0.007875, -0.06469, -0.051965, 0.044655, 0.055781, -0.11009, 0.072569, 0.014881],
        [-0.032282, -0.112804, -0.028197, -0.063368, -0.036732, 0.071482, -0.027168, 0.100203],
        [-0.01875, 0.050614, -0.098566, 0.035261, 0.102817, 0.144295, 0.006992, 0.03175],
        [0.069816, 0.016758, 0.109538, -0.100345, 0.045217, -0.024869, 0.107724, 0.02295],
        [-0.040083, 0.061734, 0.089358, 0.02445, 0.065676, -0.037145, -0.130737, 0.022373],
        [-0.033338, 0.168755, 0.07042, 0.016524, -0.089371, 0.091756, 0.044481, -0.045961],
        [-0.078761, -0.086528, -0.000686, -0.057029, -0.053555, -0.058006, -0.018849, -0.179351],
    ],
    [
        [-0.051211, -0.019509, 0.014326, 0.078641, -0.086431, -0.108499, 0.03035, -0.064749],
        [-0.02728, -0.038355, 0.027142, -0.08754, -0.001277, 0.145424, 0.03448, -0.095917],
        [-0.00663, 0.149058, -0.032879, -0.030663, 0.077289, -0.012839, 0.121621, -0.064724],
        [-0.050527, -0.054496, 0.038844, 0.054827, 0.110088, 0.000309, -0.07954, 0.009897],
        [-0.021505, 0.113593, 0.07198, -0.055216, -0.079294, 0.085241, 0.007192, 0.092777],
        [0.14977, -0.042753, 0.032579, 0.01012, -0.02806, -0.069725, -0.030516, 0.119815],
        [0.029657, 0.059513, 0.00303, -0.101138, -0.004181, -0.086972, -0.078943, -0.074734],
        [0.016892, -0.07719, -0.138109, 0.048306, -0.018085, 0.050886, 0.045598, 0.058287],
    ],
    [
        [0.034559, 0.152391, 0.11749, -0.032266, 0.023675, -0.06083, 0.000535, 0.084343],
        [0.031642, 0.035965, -0.091427, 0.014367, 0.052208, 0.126945, -0.065251, 0.063888],
        [-0.102316, 0.013022, 0.025472, -0.019517, -0.005892, 0.105547, -0.046404, -0.119237],
        [-0.01638, -0.046976, -0.0116, -0.078801, -0.114625, -0.009675, -0.085098, 0.078561],
        [-0.036237, -0.101749, 0.065992, -0.066122, 0.076239, -0.047673, 0.090228, -0.036184],
        [0.158975, 0.084025, 0.027146, -0.028245, -0.01787, 0.055899, 0.082732, -0.066342],
        [-0.022365, -0.029036, -0.012359, 0.109338, 0.050326, -0.100739, -0.079448, 0.022534],
        [0.008219, -0.046774, -0.09652, 0.067553, -0.088322, -0.058632, 0.116919, -0.02167],
    ],
    [
        [-0.167981, -0.074301, 0.051453, 0.002586, 0.054792, 0.007581, 0.058794, -0.008376],
        [0.009419, 0.00577, -0.040224, 0.069313, -0.048041, -0.094856, 0.045665, -0.11318],
        [0.036947, 0.001032, -0.040085, 0.04261, -0.019738, 0.119608, 0.134221, 0.037543],
        [0.122463, 0.142636, 0.021944, -0.038502, 0.041448, -0.016188, 0.043749, 0.006737],
        [-0.098099, 0.033514, -0.016838, -0.099716, -0.097081, 0.06665, -0.056529, -0.033996],
        [0.03981, -0.010148, 0.066215, 0.06911, -0.004812, 0.072576, -0.133052, 0.014272],
        [0.032175, -0.09811, -0.045408, 0.074086, 0.156829, 0.022257, -0.01929, 0.043689],
        [-0.012062, -0.060007, 0.008719, -0.097554, 0.006102, -0.144658, -0.024462, 0.088959],
    ],
    [
        [-0.025419, 0.035196, -0.086898, 0.022136, -0.003995, 0.080382, 0.083677, -0.111968],
        [0.048868, -0.029346, 0.144359, -0.01679, 0.038345, -0.04915, 0.041778, -0.148382],
        [0.055662, 0.039823, 0.077132, 0.018209, -0.099771, 0.038348, -0.115204, -0.031721],
        [-0.041634, -0.120617, -0.08179, 0.08704, -0.02169, 0.018458, -0.021364, -0.025609],
        [0.021594, 0.093655, -0.090839, -0.002626, 0.06834, 0.00744, -0.102683, 0.101146],
        [-0.056826, 0.116484, -0.039177, -0.054542, -0.054026, -0.134913, 0.024216, 0.019343],
        [0.124722, -0.050773, 0.016511, -0.086117, 0.071649, 0.033771, 0.060094, 0.063517],
        [-0.108273, -0.05003, 0.058687, 0.018038, 0.024206, 0.005115, 0.022522, 0.114373],
    ],
    [
        [0.051359, -0.073483, -0.034612, 0.134556, -0.048481, -0.084693, 0.054921, -0.019304],
        [-0.039702, -0.095589, 0.027772, 0.012983, -0.083916, 0.109356, 0.04378, 0.047675],
        [0.089792, 0.061133, 0.077932, -0.049268, 0.057832, -0.020252, 0.044009, 0.0904],
        [0.160092, -0.057945, 0.022068, -0.095231, -0.019597, 0.051512, -0.069745, -0.049035],
        [-0.049262, 0.049538, -0.035299, -0.054882, 0.067395, 0.048303, 0.084479, -0.077581],
        [-0.037542, 0.064021, 0.026658, 0.004995, -0.105903, 0.003259, -0.096639, -0.155053],
        [-0.009026, -0.019162, -0.1285, 0.000562, 0.064812, -0.045032, -0.073261, 0.070753],
        [-0.100286, 0.043, 0.076159, 0.061024, 0.009612, -0.082048, -0.050432, 0.054173],
    ],
    [
        [-0.015495, -0.046118, -0.031385, -0.092483, -0.089226, -0.013699, 0.087634, -0.096955],
        [0.070228, -0.022341, 0.066995, 0.095885, -0.020525, -0.01379, -0.105129, -0.05386],
        [-0.002452, -0.040228, 0.046877, 0.064758, 0.017074, 0.157766, 0.042425, -0.023908],
        [-0.037288, -0.039816, -0.039955, -0.022796, 0.084507, -0.121597, -0.007318, -0.040084],
        [0.055195, -0.101959, -0.015201, -0.11058, 0.011006, 0.039884, 0.016408, 0.12369],
        [-0.091146, 0.087995, 0.04776, -0.00166, -0.093436, -0.022961, -0.077544, 0.112628],
        [-0.033328, 0.121089, 0.05099, 0.036249, 0.006288, -0.022911, 0.119795, -0.001986],
        [0.058083, 0.083285, -0.144802, 0.002479, 0.071388, 0.035405, -0.031995, 0.020774],
    ],
]



def _semdedup_rounded_pairs(spark, sf_dir):
    """Within-cell pairs with the cosine ROUNDED to 4dp before the
    threshold, so Spark and the DuckDB oracle apply the identical cut."""
    from seqspark.pipeline.dedup import semantic_dedup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        semantic_dedup_pairs(emb, SEMDEDUP_CENTROIDS, threshold=-1.0)
        .withColumn("cos", F.round(F.col("cos"), 4))
        .filter(F.col("cos") >= 0.4)
    )


def q_semantic_dedup_pairs(spark, sf_dir):
    # SemDeDup cells: nearest-centroid assignment, then within-cell pairs
    # only (sum(|cell|^2) pair work, never |corpus|^2)
    return _semdedup_rounded_pairs(spark, sf_dir).select("a", "b", "cell", "cos")


def q_semantic_dedup(spark, sf_dir):
    # survivors under the deterministic min-id keep rule
    emb = load_table(spark, sf_dir, "embeddings")
    losers = (
        _semdedup_rounded_pairs(spark, sf_dir)
        .select(F.col("b").alias("vec_id"))
        .distinct()
    )
    return emb.join(losers, "vec_id", "left_anti").select("vec_id", "label")


def q_span_dedup(spark, sf_dir):
    # corpus-wide duplicated-span removal (k-gram exact-substring dedup):
    # first occurrence by (doc_id, pos) wins, later copies are cut out
    from seqspark.pipeline.dedup import duplicate_span_removal

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_removal(docs, k=8).select("doc_id", "clean_text")


def q_fuzzy_contamination(spark, sf_dir):
    # doc-pair word-3-gram Jaccard across a train/test split (fuzzy
    # decontamination), with a document-frequency cap on join keys
    from seqspark.pipeline.scrub import fuzzy_contamination_pairs

    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0).withColumnRenamed(
        "doc_id", "train_id"
    )
    test = docs.filter(F.col("doc_id") % 2 == 1).withColumnRenamed(
        "doc_id", "test_id"
    )
    out = fuzzy_contamination_pairs(
        train, test, "train_id", "text", "test_id", "text",
        n=3, threshold=0.4, max_df=100,
    )
    return out.withColumn("jaccard", F.round(F.col("jaccard"), 6))



#: frozen quality-classifier model for the `quality_classifier` entry:
#: trained ONCE via `train_quality_classifier(dim=256)` on the sf0.01
#: documents (label = lang == 'en'; the synthetic corpus shares one
#: vocabulary across langs, so the learned separation is weak — the entry
#: verifies the hashed-feature SCORING machinery, which is the Spark-side
#: deliverable; tests/test_pipeline.py proves learning on separable data)
QC_BIAS = -0.248626
QC_WEIGHTS: list[float] = [
    0.168454, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.094456,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, -0.046585, -0.143228, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    -0.002956, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.093176, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, -0.041879, 0.0, 0.0, 0.0,
    0.0, 0.094616, 0.0, -0.062047, 0.0, -0.031478, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.037835, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.102361,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, -0.027611, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, -0.038594, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.000674,
    0.0, 0.203775, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    -0.038439, 0.0, 0.0, 0.0, 0.0, 0.0, -0.113738, 0.0,
    0.0, 0.0, 0.0, 0.0, -0.154289, 0.0, 0.0, 0.0,
    0.147417, 0.18755, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.167775, 0.0, 0.0, -0.061226, 0.0, 0.0, 0.0,
    0.0, -0.036155, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, -0.070779, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, -0.013573, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, -0.091576, 0.0, 0.0, -0.05994, 0.0, 0.0, 0.0,
    0.0, 0.088965, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
    0.0, 0.0, 0.0, 0.0, 0.0, -0.101048, 0.0, 0.0,
]


def q_quality_classifier(spark, sf_dir):
    # GPT-3-style corpus-quality classifier scoring: pure Catalyst (md5
    # hashed-feature lookup in a literal weight array inside codegen)
    from seqspark.pipeline.textstats import quality_classifier_score

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(
            quality_classifier_score(F.col("text"), QC_WEIGHTS, QC_BIAS), 6
        ).alias("quality_p"),
    )



def q_pack_sequences(spark, sf_dir):
    # GPT-style concat-then-chunk packing: per-shard prefix sums place
    # every doc's token span into seq_len-sized training sequences
    from seqspark.pipeline.sampling import pack_sequences
    from seqspark.pipeline.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", token_count(F.col("text")).cast("long")
    )
    out = pack_sequences(docs, "doc_id", "n_tokens", seq_len=512, shards=8)
    return out.select(
        "doc_id", "pack_shard", "start_tok", "first_seq", "last_seq"
    )



def q_hamming_dupes(spark, sf_dir):
    # generic Hamming-bounded near-dup join (shared by simhash text
    # sketches and perceptual image dHashes), driven here by a 60-bit
    # md5-prefix hash so the SQL oracle can brute-force the same
    # predicate; duplicate texts surface as distance-0 pairs
    from seqspark.pipeline.dedup import hamming_dupes

    # hash the 2-word prefix (not the whole text — the synthetic corpus
    # has no full-text dups, but ~180 docs share an opening bigram), so
    # shared openings collide at distance 0 and the entry is non-vacuous
    pre = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "h", F.conv(F.substring(F.md5(pre), 1, 15), 16, 10).cast("long")
    )
    return hamming_dupes(docs, "doc_id", "h", max_distance=4, bits=60)



def q_hamming_dedup(spark, sf_dir):
    # survivor side of the Hamming near-dup join: same 60-bit prefix hash
    # as `hamming_dupes`, higher-id member of each pair dropped
    from seqspark.pipeline.dedup import hamming_dedup

    pre = F.array_join(F.slice(F.split(F.col("text"), " "), 1, 2), " ")
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "h", F.conv(F.substring(F.md5(pre), 1, 15), 16, 10).cast("long")
    )
    return hamming_dedup(docs, "doc_id", "h", max_distance=4, bits=60).select(
        "doc_id", "h"
    )


def q_image_dhash_dupes(spark, sf_dir):
    # hash-pinned (r11, formerly rows-only): REAL dHash (stdlib PNG
    # raster decode → luma grid → difference bits) over the real-asset
    # fixture plus byte-identical copies under shifted ids, then the
    # exact Hamming-banded pair join. The oracle freezes only the
    # per-asset dHash values (IMAGE_DHASH_EXPECTED) and REPLAYS the pair
    # semantics in DuckDB as brute-force bit_count(xor) over the literal
    # table — pigeonhole banding is exact, so the sets must be equal.
    # Audio rows dhash to NULL and never pair.
    from seqspark.pipeline.dedup import hamming_dupes
    from seqspark.pipeline.multimodal import dhash_images, make_real_assets

    assets = make_real_assets(spark, 48)
    copies = assets.withColumn("asset_id", F.col("asset_id") + 1000)
    hashed = dhash_images(
        assets.unionByName(copies), fake=False, project=("asset_id",)
    )
    return hamming_dupes(hashed, "asset_id", "dhash", max_distance=4)


#: entries that deliberately have no SQL oracle twin. EMPTY since r11:
#: the last three (binary multimodal kernels) moved to hash-green via
#: frozen expected digests over the deterministic real-codec fixture
#: (tools/gen_multimodal_expected.py — the literal-hyperplane trick of
#: r10's LSH conversions, applied to binary outputs). Every contract
#: entry now carries a full rows+schema+hash oracle; tests/test_contract
#: pins queries().keys() == oracle_sql().keys().
ROWS_ONLY = frozenset()


def contract_diagnostics() -> dict[str, Callable[[SparkSession, str], str]]:
    """Optional per-entry failure diagnostics the oracle checker runs when
    an entry MISMATCHes, so an engine-noise artifact is distinguishable
    from a real regression in the failure report. Today: the LSH sketch
    entries' sign parity relies on Spark's sequential float dot and
    DuckDB's list_dot_product agreeing on sign — a dot within rounding
    distance of zero can flip a bit in exactly one engine (advisor r10)."""

    def _lsh_margin(dim: int, bits: int, seed: int):
        def diag(spark: SparkSession, sf_dir: str) -> str:
            from seqspark.pipeline.ann import lsh_sign_margin

            emb = load_table(spark, sf_dir, "embeddings")
            mn, n = lsh_sign_margin(emb, dim=dim, bits=bits, seed=seed)
            return (
                f"lsh sign margin (dim={dim} bits={bits} seed={seed}): "
                f"min |dot|={mn:.3g}, rows within 1e-6 of a sign flip={n} "
                "(n>0 => likely Spark/DuckDB float-order sign flip, "
                "not a regression; n=0 => real divergence)"
            )

        return diag

    return {
        "ann_lsh_topk": _lsh_margin(64, 12, 7),
        "sketch_balanced_sample": _lsh_margin(64, 8, 7),
    }


#: Driver-window rotation (r14): the driver's CORRECTNESS artifact checks
#: the FIRST 50 queries() entries. The r13 window re-verified the r5-r10
#: tail; after it ran, the staleness profile was 31 entries last
#: driver-green at r10 and 46 at r11 (vs a 141-entry contract — the
#: window can only re-green 50/round, so it is pointed at the OLDEST
#: tail every round). This window: the 4 cross-round canaries, the 2
#: r15 (verdict #2): the rotation is now MECHANICAL —
#: ``tools/rotate_window.py`` computes last driver-green age per entry
#: from the committed CORRECTNESS_r*.json artifacts and takes the 50
#: oldest (never-checked first, contract order within a round).
#: This window = ``rotate_window.py --as-of 17``: the 4 remaining
#: r14-cohort entries (ann_ivfpq_residual, complex_search,
#: inverted_index_and, export_keyset) plus 46 of the 50-entry r15
#: cohort.
#: tests/test_contract.py pins the window against the mechanism, so a
#: hand-edit that drifts fails fast. After this round no entry's last
#: driver-green is older than r15.
DRIVER_WINDOW = [
    "ann_ivfpq_residual",
    "complex_search",
    "inverted_index_and",
    "export_keyset",
    "incremental_lsh_dupes",
    "bpe_encode",
    "bpe_encode_dict",
    "audio_features_wavext",
    "multimodal_bmp_rle",
    "multimodal_oggflac",
    "multimodal_webp_pixels",
    "multimodal_webp_anim",
    "ann_sq_topk",
    "ann_ivfsq_topk",
    "agg_notexists_bucket",
    "agg_sum_notexists",
    "agg_unique_total",
    "agg_bucket_order",
    "keyset_pagination",
    "multitype_keyword_title",
    "two_phase_fetch",
    "corpus_curation",
    "case_sensitive_eq",
    "pii_scrub",
    "decontaminate",
    "repetition_ratio",
    "shipping_priority",
    "local_supplier_volume",
    "hash_sample",
    "hash_split",
    "train_shuffle",
    "mix_sources",
    "legacy_query",
    "legacy_range",
    "dup_clusters",
    "stratified_sample",
    "domain_stats",
    "cap_per_group",
    "ivf_update",
    "sessionize",
    "sessionize_native",
    "sketch_balanced_sample",
    "multimodal_resize",
    "embedding_dup_clusters",
    "top_per_group",
    "heavy_hitters",
    "semantic_dedup_pairs",
    "semantic_dedup",
    "span_dedup",
    "fuzzy_contamination",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q = _all_queries()
    ordered = {name: q[name] for name in DRIVER_WINDOW}
    ordered.update((k, v) for k, v in q.items() if k not in ordered)
    return ordered


def _all_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "keyword_eq": q_keyword_eq,
        "keyword_eq_native": q_keyword_eq_native,
        "keyword_wildcard": q_keyword_wildcard,
        "filter_in": q_filter_in,
        "range_numeric": q_range_numeric,
        "range_open": q_range_open,
        "range_lexicographic": q_range_lexicographic,
        "exists": q_exists,
        "match_all": q_match_all,
        "bool_precedence": q_bool_precedence,
        "bool_not": q_bool_not,
        "comment_strip": q_comment_strip,
        "time_range": q_time_range,
        "fields_pipe": q_fields_pipe,
        "order_limit_desc": q_order_limit_desc,
        "order_limit_asc": q_order_limit_asc,
        "offset_pagination": q_offset_pagination,
        "merge_dedup": q_merge_dedup,
        "fetch_by_ids": q_fetch_by_ids,
        "store_bloom_fetch": q_store_bloom_fetch,
        "with_total": q_with_total,
        "fulltext_and": q_fulltext_and,
        "fulltext_wildcard": q_fulltext_wildcard,
        "agg_count_group": q_agg_count_group,
        "agg_unique": q_agg_unique,
        "agg_sum_group": q_agg_sum_group,
        "agg_min_group": q_agg_min_group,
        "agg_max_group": q_agg_max_group,
        "agg_avg_group": q_agg_avg_group,
        "agg_filtered": q_agg_filtered,
        "agg_quantile": q_agg_quantile,
        "agg_timeseries": q_agg_timeseries,
        "date_histogram": q_date_histogram,
        "notexists_accounting": q_notexists_accounting,
        "json_field_extract": q_json_field_extract,
        "auto_mapping_search": q_auto_mapping_search,
        "ingest_tokenize": q_ingest_tokenize,
        "index_hot_tokens": q_index_hot_tokens,
        "ann_batch_topk": q_ann_batch_topk,
        "gopher_quality": q_gopher_quality,
        "gopher_repetition": q_gopher_repetition,
        "url_canonical": q_url_canonical,
        "unigram_perplexity": q_unigram_perplexity,
        "dsir_score": q_dsir_score,
        "dsir_resample": q_dsir_resample,
        "html_extract": q_html_extract,
        "bigram_perplexity": q_bigram_perplexity,
        "frame_sample": q_frame_sample,
        "lang_detect": q_lang_detect,
        "token_budget": q_token_budget,
        "c4_filter": q_c4_filter,
        "path_prefix_tokens": q_path_prefix_tokens,
        "timestamp_parse_chain": q_timestamp_parse_chain,
        "doc_size_tracking": q_doc_size_tracking,
        "dedup_exact": q_dedup_exact,
        "incremental_dedup": q_incremental_dedup,
        "paragraph_dedup": q_paragraph_dedup,
        "ngram_jaccard": q_ngram_jaccard,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "incremental_lsh_dupes": q_incremental_lsh_dupes,
        "simhash_candidates": q_simhash_candidates,
        "ann_brute_topk": q_ann_brute_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "embedding_cosine_pairs": q_embedding_cosine_pairs,
        "text_token_count": q_text_token_count,
        "text_quality": q_text_quality,
        "text_fingerprint": q_text_fingerprint,
        "bpe_encode": q_bpe_encode,
        "bpe_encode_dict": q_bpe_encode_dict,
        "multimodal_decode": q_multimodal_decode,
        "frame_sample_gif": q_frame_sample_gif,
        "frame_sample_apng": q_frame_sample_apng,
        "frame_sample_y4m": q_frame_sample_y4m,
        "frame_sample_mjpeg": q_frame_sample_mjpeg,
        "multimodal_resize_jpeg": q_multimodal_resize_jpeg,
        "image_dhash_jpeg": q_image_dhash_jpeg,
        "audio_features": q_audio_features,
        "audio_features_flac": q_audio_features_flac,
        "audio_features_wavext": q_audio_features_wavext,
        "audio_features_adpcm": q_audio_features_adpcm,
        "multimodal_bmp": q_multimodal_bmp,
        "multimodal_bmp_rle": q_multimodal_bmp_rle,
        "multimodal_tiff": q_multimodal_tiff,
        "multimodal_tiff_pixels": q_multimodal_tiff_pixels,
        "multimodal_mp3": q_multimodal_mp3,
        "multimodal_ogg": q_multimodal_ogg,
        "multimodal_oggflac": q_multimodal_oggflac,
        "multimodal_webp": q_multimodal_webp,
        "multimodal_webp_pixels": q_multimodal_webp_pixels,
        "multimodal_webp_lossy": q_multimodal_webp_lossy,
        "multimodal_webp_anim": q_multimodal_webp_anim,
        "multimodal_isobmff": q_multimodal_isobmff,
        "weighted_sample": q_weighted_sample,
        "audio_dupes": q_audio_dupes,
        "ann_pq_topk": q_ann_pq_topk,
        "ann_sq_topk": q_ann_sq_topk,
        "ann_ivfsq_topk": q_ann_ivfsq_topk,
        "ann_opq_topk": q_ann_opq_topk,
        "ann_ivfpq_residual": q_ann_ivfpq_residual,
        "ann_pq_rerank": q_ann_pq_rerank,
        "ann_pq_batch": q_ann_pq_batch,
        "unigram_encode": q_unigram_encode,
        "unigram_sample_encode": q_unigram_sample_encode,
        "video_keyframes": q_video_keyframes,
        "join_broadcast": q_join_broadcast,
        "lineitem_pricing_summary": q_lineitem_pricing_summary,
        "complex_search": q_complex_search,
        "agg_notexists_bucket": q_agg_notexists_bucket,
        "agg_sum_notexists": q_agg_sum_notexists,
        "agg_unique_total": q_agg_unique_total,
        "agg_bucket_order": q_agg_bucket_order,
        "keyset_pagination": q_keyset_pagination,
        "multitype_keyword_title": q_multitype_keyword_title,
        "inverted_index_and": q_inverted_index_and,
        "two_phase_fetch": q_two_phase_fetch,
        "two_phase_residual": q_two_phase_residual,
        "export_keyset": q_export_keyset,
        "corpus_curation": q_corpus_curation,
        "case_sensitive_eq": q_case_sensitive_eq,
        "pii_scrub": q_pii_scrub,
        "decontaminate": q_decontaminate,
        "repetition_ratio": q_repetition_ratio,
        "shipping_priority": q_shipping_priority,
        "local_supplier_volume": q_local_supplier_volume,
        "hash_sample": q_hash_sample,
        "hash_split": q_hash_split,
        "train_shuffle": q_train_shuffle,
        "mix_sources": q_mix_sources,
        "legacy_query": q_legacy_query,
        "legacy_range": q_legacy_range,
        "dup_clusters": q_dup_clusters,
        "stratified_sample": q_stratified_sample,
        "domain_stats": q_domain_stats,
        "cap_per_group": q_cap_per_group,
        "cap_per_group_salted": q_cap_per_group_salted,
        "ivf_update": q_ivf_update,
        "sessionize": q_sessionize,
        "sessionize_scalable": q_sessionize_scalable,
        "sessionize_bucketed": q_sessionize_bucketed,
        "sessionize_native": q_sessionize_native,
        "sketch_balanced_sample": q_sketch_balanced_sample,
        "multimodal_resize": q_multimodal_resize,
        "embedding_dup_clusters": q_embedding_dup_clusters,
        "top_per_group": q_top_per_group,
        "heavy_hitters": q_heavy_hitters,
        "semantic_dedup_pairs": q_semantic_dedup_pairs,
        "semantic_dedup": q_semantic_dedup,
        "span_dedup": q_span_dedup,
        "fuzzy_contamination": q_fuzzy_contamination,
        "quality_classifier": q_quality_classifier,
        "pack_sequences": q_pack_sequences,
        "hamming_dupes": q_hamming_dupes,
        "hamming_dedup": q_hamming_dedup,
        "image_dhash_dupes": q_image_dhash_dupes,
    }


# --------------------------------------------------------------------------
# oracle SQL (DuckDB dialect) — same aliases, same row sets
# --------------------------------------------------------------------------

_EV = "event_id, epoch_us(ts) AS ts_us, user_id, event_type, value"
_TOKS = r"string_split_regex(lower(text), '[^\p{L}\p{N}_*]+')"
_WORDS = r"list_filter(string_split_regex(lower(text), '[^\p{L}\p{N}_]+'), w -> len(w) > 0)"


def oracle_sql() -> dict[str, str]:
    sql = {
        "keyword_eq": f"SELECT {_EV} FROM events WHERE lower(event_type) = 'click'",
        "keyword_eq_native": f"SELECT {_EV} FROM events WHERE CAST(user_id AS VARCHAR) = '7'",
        "keyword_wildcard": f"SELECT {_EV} FROM events WHERE lower(event_type) LIKE 'c%ck'",
        "filter_in": f"SELECT {_EV} FROM events WHERE lower(event_type) IN ('click', 'view')",
        "range_numeric": (
            f"SELECT {_EV} FROM events WHERE "
            "TRY_CAST(lower(CAST(value AS VARCHAR)) AS DOUBLE) >= 10 AND "
            "TRY_CAST(lower(CAST(value AS VARCHAR)) AS DOUBLE) < 20"
        ),
        "range_open": (
            f"SELECT {_EV} FROM events WHERE "
            "TRY_CAST(lower(CAST(value AS VARCHAR)) AS DOUBLE) >= 15"
        ),
        "range_lexicographic": (
            f"SELECT {_EV} FROM events WHERE "
            "lower(event_type) >= 'click' AND lower(event_type) <= 'error'"
        ),
        "exists": f"SELECT {_EV} FROM events WHERE props IS NOT NULL",
        "match_all": f"SELECT {_EV} FROM events",
        "bool_precedence": (
            f"SELECT {_EV} FROM events WHERE "
            "(lower(event_type) = 'click' AND value >= 10) OR "
            "(lower(event_type) = 'error' AND value >= 30)"
        ),
        "bool_not": (
            f"SELECT {_EV} FROM events WHERE "
            "lower(event_type) <> 'click' AND value >= 50"
        ),
        "comment_strip": (
            f"SELECT {_EV} FROM events WHERE lower(event_type) IN ('click', 'view')"
        ),
        "time_range": (
            f"SELECT {_EV} FROM events WHERE "
            "epoch_ms(ts) >= 1704412800000 AND epoch_ms(ts) <= 1704844800000"
        ),
        "fields_pipe": "SELECT event_id, event_type FROM events",
        "order_limit_desc": (
            f"SELECT {_EV} FROM events ORDER BY epoch_ms(ts) DESC, event_id DESC, ts DESC LIMIT 100"
        ),
        "order_limit_asc": (
            f"SELECT {_EV} FROM events ORDER BY epoch_ms(ts) ASC, event_id ASC, ts ASC LIMIT 100"
        ),
        "offset_pagination": (
            f"SELECT {_EV} FROM events ORDER BY epoch_ms(ts) ASC, event_id ASC, ts ASC LIMIT 200 OFFSET 500"
        ),
        "merge_dedup": f"SELECT {_EV} FROM events WHERE lower(event_type) = 'error'",
        "fetch_by_ids": (
            f"SELECT {_EV} FROM events WHERE event_id IN "
            f"({', '.join(str(i) for i in range(0, 500, 7))})"
        ),
        # identical row set through the DocStore bloom path: a bloom
        # row-group skip that dropped a matching group would diverge here
        "store_bloom_fetch": (
            f"SELECT {_EV} FROM events WHERE event_id IN "
            f"({', '.join(str(i) for i in range(0, 500, 7))})"
        ),
        "with_total": "SELECT count(*) AS total FROM events WHERE lower(event_type) = 'click'",
        "fulltext_and": (
            "SELECT doc_id, lang, source FROM documents WHERE "
            f"list_contains({_TOKS}, 'table') AND list_contains({_TOKS}, 'scan')"
        ),
        "fulltext_wildcard": (
            "SELECT doc_id, source FROM documents WHERE "
            f"len(list_filter({_TOKS}, t -> t LIKE 'sc%n')) > 0"
        ),
        "agg_count_group": (
            "SELECT lower(event_type) AS name, count(*) AS cnt FROM events GROUP BY 1"
        ),
        "agg_unique": "SELECT DISTINCT lower(event_type) AS name FROM events",
        "agg_sum_group": (
            "SELECT lower(event_type) AS name, round(sum(value), 3) AS sum_value "
            "FROM events GROUP BY 1"
        ),
        "agg_min_group": (
            "SELECT lower(event_type) AS name, min(value) AS min_value "
            "FROM events GROUP BY 1"
        ),
        "agg_max_group": (
            "SELECT lower(event_type) AS name, max(value) AS max_value "
            "FROM events GROUP BY 1"
        ),
        "agg_avg_group": (
            "SELECT lower(event_type) AS name, round(avg(value), 3) AS avg_value "
            "FROM events GROUP BY 1"
        ),
        "agg_filtered": (
            "SELECT lower(event_type) AS name, round(sum(value), 3) AS sum_value "
            "FROM events WHERE value >= 10 AND lower(event_type) <> 'view' GROUP BY 1"
        ),
        "agg_quantile": (
            "SELECT lower(event_type) AS name, "
            "round(quantile_cont(value, 0.5), 3) AS p50, "
            "round(quantile_cont(value, 0.9), 3) AS p90 "
            "FROM events GROUP BY 1"
        ),
        "agg_timeseries": (
            "SELECT epoch_ms(ts) - epoch_ms(ts) % 604800000 AS mid_ms, "
            "lower(event_type) AS name, count(*) AS cnt FROM events GROUP BY 1, 2"
        ),
        "date_histogram": (
            "SELECT epoch_ms(ts) - epoch_ms(ts) % 21600000 AS bucket_ms, "
            "count(*) AS cnt FROM events WHERE lower(event_type) = 'error' GROUP BY 1"
        ),
        "notexists_accounting": (
            "SELECT CASE WHEN json_extract_string(props, '$.k2') IS NULL THEN 1 ELSE 0 END "
            "AS not_exists, count(*) AS cnt FROM events GROUP BY 1"
        ),
        "json_field_extract": (
            "SELECT event_id, TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k "
            "FROM events WHERE TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) >= 50"
        ),
        "ingest_tokenize": (
            # strlen = BYTE length, matching the reference's len([]byte) caps
            "SELECT doc_id, unnest(list_filter("
            f"{_TOKS}, t -> len(t) > 0 AND strlen(t) <= 72)) AS token FROM documents"
        ),
        "auto_mapping_search": (
            "SELECT event_id FROM events "
            "WHERE lower(event_type) = 'click' "
            "AND CAST(user_id AS VARCHAR) LIKE '1%'"
        ),
        "ann_batch_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            "FROM embeddings WHERE vec_id < 3), "
            "c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings "
            "WHERE vec_id >= 3) "
            "SELECT q.query_id, c.vec_id, "
            "round(list_cosine_similarity(c.v, q.qv), 4) AS score "
            "FROM q, c "
            "QUALIFY row_number() OVER (PARTITION BY q.query_id "
            "ORDER BY list_cosine_similarity(c.v, q.qv) DESC, c.vec_id) <= 5"
        ),
        "gopher_quality": (
            "WITH g AS (SELECT doc_id, text, " + _WORDS + " AS w FROM documents), "
            "m AS (SELECT doc_id, text, w, len(w) AS n, "
            "CASE WHEN len(w) > 0 THEN length(array_to_string(w, ''))::DOUBLE / len(w) ELSE 0 END AS mean_len, "
            r"length(regexp_replace(text, '[^#…]', '', 'g')) + len(regexp_extract_all(text, '\.\.\.')) AS symbols, "
            r"len(list_filter(w, x -> regexp_matches(x, '\p{L}'))) AS alpha_words, "
            "len(list_intersect(w, ['the','be','to','of','and','that','have','with'])) AS req FROM g) "
            "SELECT doc_id, "
            "(n >= 5 AND n <= 500) AS rule_word_count, "
            "(mean_len >= 3.0 AND mean_len <= 10.0) AS rule_mean_word_len, "
            "(n > 0 AND symbols::DOUBLE / n <= 0.1) AS rule_symbol_ratio, "
            "(n > 0 AND alpha_words::DOUBLE / n >= 0.8) AS rule_alpha_words, "
            "(req >= 2) AS rule_required_words, "
            "((n >= 5 AND n <= 500) AND (mean_len >= 3.0 AND mean_len <= 10.0) "
            "AND (n > 0 AND symbols::DOUBLE / n <= 0.1) "
            "AND (n > 0 AND alpha_words::DOUBLE / n >= 0.8) AND req >= 2) AS gopher_keep "
            "FROM m"
        ),
        "gopher_repetition": (
            "WITH base AS (SELECT doc_id, length(text) AS tc, "
            "list_filter(string_split(text, chr(10)), l -> len(trim(l)) > 0) AS lines, "
            r"list_filter(string_split_regex(text, '\n{2,}'), p -> len(trim(p)) > 0) AS paras, "
            + _WORDS
            + " AS w FROM documents), "
            "lg AS (SELECT doc_id, item, count(*) AS c, length(item) AS ln FROM "
            "(SELECT doc_id, unnest(lines) AS item FROM base) GROUP BY doc_id, item), "
            "ls AS (SELECT doc_id, sum(c) AS n, "
            "coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_n, "
            "coalesce(sum(c * ln) FILTER (WHERE c > 1), 0) AS dup_ch FROM lg GROUP BY doc_id), "
            "pg AS (SELECT doc_id, item, count(*) AS c, length(item) AS ln FROM "
            "(SELECT doc_id, unnest(paras) AS item FROM base) GROUP BY doc_id, item), "
            "ps AS (SELECT doc_id, sum(c) AS n, "
            "coalesce(sum(c) FILTER (WHERE c > 1), 0) AS dup_n, "
            "coalesce(sum(c * ln) FILTER (WHERE c > 1), 0) AS dup_ch FROM pg GROUP BY doc_id), "
            "g2 AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS ln FROM "
            "(SELECT doc_id, unnest(list_transform(range(1, len(w)), "
            "i -> array_to_string(w[i:i+1], ' '))) AS gram FROM base) GROUP BY doc_id, gram), "
            "g2s AS (SELECT doc_id, coalesce(max(c * ln) FILTER (WHERE c > 1), 0) AS top_ch "
            "FROM g2 GROUP BY doc_id), "
            "g5 AS (SELECT doc_id, gram, count(*) AS c, length(gram) AS ln FROM "
            "(SELECT doc_id, unnest(list_transform(range(1, len(w) - 3), "
            "i -> array_to_string(w[i:i+4], ' '))) AS gram FROM base) GROUP BY doc_id, gram), "
            "g5s AS (SELECT doc_id, coalesce(sum(c * ln) FILTER (WHERE c > 1), 0) AS dup_ch "
            "FROM g5 GROUP BY doc_id), "
            "f AS (SELECT b.doc_id, "
            "CASE WHEN coalesce(ls.n, 0) > 0 THEN ls.dup_n::DOUBLE / ls.n ELSE 0 END AS dlf, "
            "CASE WHEN b.tc > 0 THEN coalesce(ls.dup_ch, 0)::DOUBLE / b.tc ELSE 0 END AS dlc, "
            "CASE WHEN coalesce(ps.n, 0) > 0 THEN ps.dup_n::DOUBLE / ps.n ELSE 0 END AS dpf, "
            "CASE WHEN b.tc > 0 THEN coalesce(ps.dup_ch, 0)::DOUBLE / b.tc ELSE 0 END AS dpc, "
            "CASE WHEN b.tc > 0 THEN coalesce(g2s.top_ch, 0)::DOUBLE / b.tc ELSE 0 END AS t2, "
            "CASE WHEN b.tc > 0 THEN coalesce(g5s.dup_ch, 0)::DOUBLE / b.tc ELSE 0 END AS d5 "
            "FROM base b LEFT JOIN ls USING (doc_id) LEFT JOIN ps USING (doc_id) "
            "LEFT JOIN g2s USING (doc_id) LEFT JOIN g5s USING (doc_id)) "
            "SELECT doc_id, round(dlf, 4) AS dup_line_frac, "
            "round(dlc, 4) AS dup_line_char_frac, "
            "round(dpf, 4) AS dup_para_frac, "
            "round(dpc, 4) AS dup_para_char_frac, "
            "round(t2, 4) AS top_2gram_char_frac, "
            "round(d5, 4) AS dup_5gram_char_frac, "
            "(dlf <= 0.30 AND dlc <= 0.20 AND dpf <= 0.30 AND dpc <= 0.20 "
            "AND t2 <= 0.20 AND d5 <= 0.15) AS gopher_rep_keep FROM f"
        ),
        "unigram_perplexity": (
            "WITH toks AS (SELECT doc_id, unnest(" + _WORDS + ") AS word "
            "FROM documents), "
            "counts AS (SELECT word, count(*) AS c FROM toks GROUP BY word), "
            "agg AS (SELECT sum(c) AS total, count(*) AS v FROM counts), "
            "top AS (SELECT word, c FROM counts ORDER BY c DESC, word LIMIT 100), "
            "vocab AS (SELECT word, ln((c + 1)::DOUBLE / (total + v + 1)) AS logp "
            "FROM top, agg), "
            "oovp AS (SELECT ln(1.0 / (total + v + 1)) AS oov FROM agg), "
            "scored AS (SELECT t.doc_id, coalesce(vocab.logp, oovp.oov) AS logp "
            "FROM toks t LEFT JOIN vocab USING (word), oovp), "
            "per AS (SELECT doc_id, count(*) AS n_tokens, avg(logp) AS mean_logp "
            "FROM scored GROUP BY doc_id) "
            "SELECT d.doc_id, coalesce(per.n_tokens, 0)::BIGINT AS n_tokens, "
            "round(coalesce(per.mean_logp, 0.0), 4) AS mean_logp "
            "FROM documents d LEFT JOIN per USING (doc_id)"
        ),
        "url_canonical": (
            # the canonical form is computable in closed form for the
            # synthesized variants; the lowest id (the messy variant's
            # doc_id) survives dedup — any broken canonicalization rule
            # makes the two variants' canonicals disagree and the row
            # count/values mismatch
            "SELECT doc_id, 'https://' || lower(source) || '.example.com/' "
            "|| lang || '/page' || doc_id || '?a=1&b=2' AS canonical_url "
            "FROM documents"
        ),
        "c4_filter": (
            "WITH synth AS (SELECT doc_id, text || '.' || chr(10) || "
            "'tiny line.' || chr(10) || "
            "'this line has no terminal punctuation' || chr(10) || "
            "(CASE WHEN doc_id % 7 = 0 THEN "
            "'curly { brace sentence appears right here today.' ELSE "
            "'clean closing sentence for the document.' END) || chr(10) || "
            "(CASE WHEN doc_id % 11 = 0 THEN "
            "'lorem ipsum dolor sit amet line here.' ELSE "
            "'regular final line of this document page.' END) AS t "
            "FROM documents), "
            "c AS (SELECT doc_id, t, array_to_string(list_filter("
            "string_split(t, chr(10)), "
            "l -> regexp_matches(l, '[.!?\"]\\s*$') AND "
            r"len(list_filter(string_split_regex(l, '\s+'), w -> len(w) > 0)) >= 5"
            "), chr(10)) AS text_clean FROM synth) "
            "SELECT doc_id, text_clean, "
            "NOT contains(lower(t), 'lorem ipsum') AS rule_no_lorem, "
            "NOT contains(t, '{') AS rule_no_brace, "
            r"len(regexp_extract_all(text_clean, '[.!?]')) >= 3 AS rule_min_sentences, "
            "(NOT contains(lower(t), 'lorem ipsum') AND NOT contains(t, '{') "
            r"AND len(regexp_extract_all(text_clean, '[.!?]')) >= 3) AS c4_keep "
            "FROM c"
        ),
        "token_budget": (
            "WITH per AS (SELECT source, count(*) AS n_docs, "
            f"sum(len({_WORDS}))::BIGINT AS n_tokens FROM documents GROUP BY source) "
            "SELECT source, n_docs, n_tokens, "
            "round(n_tokens::DOUBLE / sum(n_tokens) OVER (), 6) AS token_share FROM per"
        ),
        "index_hot_tokens": (
            "WITH tok AS (SELECT doc_id, unnest(list_distinct(list_filter("
            f"{_TOKS}, t -> len(t) > 0 AND strlen(t) <= 72))) AS token "
            "FROM documents) "
            "SELECT 'text' AS field, token, count(*) AS df FROM tok "
            "GROUP BY token ORDER BY df DESC, token LIMIT 50"
        ),
        "path_prefix_tokens": (
            "SELECT doc_id, unnest(["
            "'/' || lower(lang), "
            "'/' || lower(lang) || '/' || lower(source)"
            "]) AS token FROM documents"
        ),
        "timestamp_parse_chain": "SELECT event_id, epoch_us(date_trunc('milliseconds', ts)) AS parsed_us FROM events WHERE event_id % 2 = 0 UNION ALL SELECT event_id, epoch_us(date_trunc('second', ts)) AS parsed_us FROM events WHERE event_id % 2 = 1",
        "doc_size_tracking": "SELECT event_id, len(props) AS doc_size FROM events",
        "dedup_exact": (
            "SELECT doc_id, md5(text) AS h FROM documents "
            "QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1"
        ),
        "incremental_dedup": (
            "WITH seen AS (SELECT DISTINCT md5(text) AS digest "
            "FROM documents WHERE doc_id % 4 = 0), "
            "batch AS ("
            "SELECT doc_id, text FROM documents WHERE doc_id % 4 <> 0 "
            "UNION ALL SELECT doc_id + 100000, text FROM documents "
            "WHERE doc_id % 8 = 0 "
            "UNION ALL SELECT doc_id + 200000, text FROM documents "
            "WHERE doc_id % 4 = 1), "
            "fresh AS (SELECT b.* FROM batch b LEFT JOIN seen s "
            "ON md5(b.text) = s.digest WHERE s.digest IS NULL) "
            "SELECT doc_id, md5(text) AS h FROM fresh "
            "QUALIFY row_number() OVER (PARTITION BY md5(text) "
            "ORDER BY doc_id) = 1"
        ),
        "paragraph_dedup": (
            "WITH synth AS (SELECT doc_id, text || e'\\n\\n' || "
            "'standard corpus footer paragraph' || e'\\n\\n' || lang || "
            "' closing paragraph' AS t FROM documents), "
            "p AS (SELECT doc_id, unnest(string_split(t, e'\\n\\n')) AS para, "
            "unnest(range(1, len(string_split(t, e'\\n\\n')) + 1)) AS ord "
            "FROM synth), "
            "pf AS (SELECT * FROM p WHERE length(para) > 0), "
            "w AS (SELECT doc_id, para, ord, row_number() OVER "
            "(PARTITION BY para ORDER BY doc_id, ord) AS rn FROM pf) "
            "SELECT s.doc_id, coalesce(string_agg(w.para, e'\\n\\n' "
            "ORDER BY w.ord), '') AS text_dedup "
            "FROM synth s LEFT JOIN w ON w.doc_id = s.doc_id AND w.rn = 1 "
            "GROUP BY s.doc_id"
        ),
        "ngram_jaccard": (
            "WITH w AS (SELECT doc_id, " + _WORDS + " AS w FROM documents "
            "WHERE " + _KERNEL_WHERE + "), "
            "sh AS (SELECT doc_id, list_distinct(list_transform("
            "range(1, greatest(len(w) - 2, 1) + 1), "
            "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM w) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(len(list_intersect(a.s, b.s))::DOUBLE / "
            "len(list_distinct(list_concat(a.s, b.s))), 3) AS jaccard "
            "FROM sh a, sh b WHERE a.doc_id < b.doc_id AND "
            "len(list_intersect(a.s, b.s))::DOUBLE / "
            "len(list_distinct(list_concat(a.s, b.s))) >= 0.3"
        ),
        "ann_brute_topk": (
            "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) "
            "SELECT vec_id, round(list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)), 4) AS score "
            "FROM embeddings WHERE vec_id <> 0 "
            "ORDER BY list_cosine_similarity(embedding::DOUBLE[], (SELECT qv FROM q)) DESC, vec_id ASC LIMIT 10"
        ),
        "embedding_cosine_pairs": (
            "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
            "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS cos "
            "FROM embeddings a, embeddings b "
            "WHERE a.vec_id < b.vec_id AND a.vec_id < 60 AND b.vec_id < 60 AND "
            "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3"
        ),
        "text_token_count": (
            f"SELECT doc_id, len({_WORDS}) AS n_tokens FROM documents"
        ),
        "text_quality": None,  # filled below (long expression)
        "text_fingerprint": (
            f"SELECT doc_id, md5(array_to_string({_WORDS}, ' ')) AS fp FROM documents"
        ),
        "join_broadcast": (
            "SELECT c_mktsegment, count(*) AS n_orders, "
            "round(sum(o_totalprice), 2) AS total_price "
            "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"
        ),
        "lineitem_pricing_summary": (
            "SELECT l_returnflag, l_linestatus, "
            "round(sum(l_quantity), 2) AS sum_qty, "
            "round(sum(l_extendedprice), 2) AS sum_base_price, "
            "round(avg(l_discount), 6) AS avg_disc, "
            "count(*) AS count_order "
            "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02' GROUP BY 1, 2"
        ),
        "complex_search": (
            "WITH f AS (SELECT * FROM events WHERE lower(event_type) IN ('click', 'view')) "
            "SELECT 'total' AS part, '' AS name, count(*)::DOUBLE AS value FROM f "
            "UNION ALL "
            "SELECT 'hist', CAST(epoch_ms(ts) - epoch_ms(ts) % 604800000 AS VARCHAR), "
            "count(*)::DOUBLE FROM f GROUP BY 2 "
            "UNION ALL "
            "SELECT 'count', lower(event_type), count(*)::DOUBLE FROM f GROUP BY 2 "
            "UNION ALL "
            "SELECT 'sum', lower(event_type), round(sum(value), 3) FROM f GROUP BY 2"
        ),
        "agg_notexists_bucket": (
            "SELECT CASE WHEN event_id % 3 <> 0 THEN lower(event_type) "
            "ELSE '_not_exists' END AS name, count(*) AS cnt FROM events GROUP BY 1"
        ),
        "agg_sum_notexists": (
            "SELECT lower(event_type) AS name, "
            "round(sum(CASE WHEN event_id % 4 <> 0 THEN value END), 3) AS sum_value, "
            "count(*) FILTER (WHERE event_id % 4 = 0) AS not_exists "
            "FROM events GROUP BY 1"
        ),
        "agg_unique_total": (
            "SELECT count(DISTINCT lower(event_type)) AS total_unique FROM events"
        ),
        "agg_bucket_order": (
            "SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, name ASC) AS rank, "
            "name, cnt FROM (SELECT lower(event_type) AS name, count(*) AS cnt "
            "FROM events GROUP BY 1)"
        ),
        "keyset_pagination": (
            f"SELECT {_EV} FROM events WHERE "
            "epoch_ms(ts) > 1704412800000 OR "
            "(epoch_ms(ts) = 1704412800000 AND event_id > 5000) "
            "ORDER BY ts ASC, event_id ASC LIMIT 100"
        ),
        "multitype_keyword_title": (
            "SELECT event_id FROM events WHERE lower(props) LIKE '%9}%'"
        ),
        "inverted_index_and": (
            "SELECT doc_id, lang, source FROM documents WHERE "
            f"list_contains({_TOKS}, 'table') AND list_contains({_TOKS}, 'scan')"
        ),
        "two_phase_fetch": (
            # the id page is the top-(size+offset) of the EXACT match
            # set in (mid, rid) order, so the whole two-phase pipeline
            # collapses to one ordered LIMIT/OFFSET over the predicate
            "SELECT doc_id, lang, source FROM documents WHERE "
            f"list_contains({_TOKS}, 'table') AND "
            f"len(list_filter({_TOKS}, t -> t LIKE 'sc%')) > 0 AND "
            "doc_id * 1000 BETWEEN 50000 AND 450000 "
            "ORDER BY doc_id DESC LIMIT 40 OFFSET 5"
        ),
        "two_phase_residual": (
            # page refill makes the residual NOT conjunct exact, so the
            # operator still collapses to one ordered LIMIT/OFFSET
            "SELECT doc_id, lang, source FROM documents WHERE "
            f"list_contains({_TOKS}, 'table') AND "
            f"NOT list_contains({_TOKS}, 'scan') "
            "ORDER BY doc_id ASC LIMIT 30 OFFSET 3"
        ),
        "export_keyset": (
            f"SELECT {_EV} FROM events WHERE "
            "lower(event_type) = 'error' AND value >= 40 "
            "ORDER BY ts ASC, event_id ASC"
        ),
        "case_sensitive_eq": (
            "SELECT event_id, event_type FROM events WHERE event_type = 'click'"
        ),
        "pii_scrub": (
            "SELECT doc_id, "
            "regexp_replace(regexp_replace(regexp_replace("
            "text || ' contact user' || doc_id || '@example.com at 10.0.0.' || (doc_id % 256), "
            r"'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'), "
            r"'\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'), "
            r"'\+?\d[\d\s().-]{7,}\d', '<PHONE>', 'g') AS clean "
            "FROM documents"
        ),
        "decontaminate": (
            "WITH grams AS (SELECT doc_id, unnest(list_distinct(list_transform("
            "range(1, greatest(len(w) - 7, 0) + 1), "
            "i -> array_to_string(w[i:i+7], ' ')))) AS gram "
            f"FROM (SELECT doc_id, {_WORDS} AS w FROM documents)), "
            "bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id < 20), "
            "hits AS (SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)) "
            "SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated "
            "FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id"
        ),
        "repetition_ratio": (
            "SELECT doc_id, CASE WHEN len(w) - 2 >= 1 THEN round("
            "1.0 - len(list_distinct(list_transform(range(1, len(w) - 1), "
            "i -> array_to_string(w[i:i+2], ' '))))::DOUBLE / (len(w) - 2), 4) "
            "ELSE 0.0 END AS rep "
            f"FROM (SELECT doc_id, {_WORDS} AS w FROM documents)"
        ),
        "shipping_priority": (
            "SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "WHERE l_shipdate > TIMESTAMP '1995-03-15' "
            "AND o_orderdate < TIMESTAMP '1995-03-15' "
            "AND c_mktsegment = 'BUILDING' "
            "GROUP BY 1 ORDER BY revenue DESC, l_orderkey ASC LIMIT 10"
        ),
        "local_supplier_volume": (
            "SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "WHERE r_name = 'ASIA' GROUP BY 1"
        ),
    }
    # deterministic sampling twin: same md5-prefix bucket both engines
    # (15 hex digits = 60 bits, exact in a signed 64-bit int)
    # each operator namespaces the seed (sample:/split:/mix: prefix) so one
    # seed string yields independent hash streams across operators
    def bucket(ns):
        return (
            "(CAST(CONCAT('0x', SUBSTR(md5(CONCAT(CAST(doc_id AS VARCHAR), "
            f"'{ns}v1')), 1, 15)) AS BIGINT) % 1000000)"
        )

    sql["hash_sample"] = (
        f"SELECT doc_id, source FROM documents WHERE {bucket('sample:')} < 250000"
    )
    sql["hash_split"] = (
        "SELECT doc_id, CASE "
        f"WHEN {bucket('split:')} < 800000 THEN 'train' "
        f"WHEN {bucket('split:')} < 900000 THEN 'val' "
        "ELSE 'test' END AS split FROM documents"
    )
    # DSIR: hashed unigram+bigram buckets, Laplace-smoothed target/raw
    # log-ratios densified over all 512 buckets, per-doc importance sums
    dsir_pre = (
        f"WITH w AS (SELECT doc_id, lang, {_WORDS} AS ws FROM documents), "
        "grams AS ("
        "SELECT doc_id, lang, unnest(ws) AS gram FROM w "
        "UNION ALL "
        "SELECT doc_id, lang, ws[i] || ' ' || ws[i+1] AS gram "
        "FROM (SELECT doc_id, lang, ws, "
        "unnest(generate_series(1, len(ws) - 1)) AS i FROM w)), "
        "b AS (SELECT doc_id, lang, "
        "('0x' || substring(md5(gram), 1, 4))::INTEGER % 512 AS bucket "
        "FROM grams), "
        "tc AS (SELECT bucket, count(*) AS ct FROM b WHERE lang = 'en' "
        "GROUP BY bucket), "
        "rc AS (SELECT bucket, count(*) AS cr FROM b GROUP BY bucket), "
        "tot AS (SELECT (SELECT sum(ct) FROM tc) AS t_total, "
        "(SELECT sum(cr) FROM rc) AS r_total), "
        "buckets AS (SELECT unnest(generate_series(0, 511)) AS bucket), "
        "ratios AS (SELECT bucket, "
        "ln((coalesce(ct, 0) + 1)::DOUBLE / (t_total + 512)) - "
        "ln((coalesce(cr, 0) + 1)::DOUBLE / (r_total + 512)) AS log_ratio "
        "FROM buckets LEFT JOIN tc USING (bucket) "
        "LEFT JOIN rc USING (bucket), tot), "
        "per AS (SELECT doc_id, count(*) AS n_grams, "
        "sum(log_ratio) AS log_importance "
        "FROM b JOIN ratios USING (bucket) GROUP BY doc_id)"
    )
    sql["dsir_score"] = (
        dsir_pre +
        " SELECT d.doc_id, coalesce(per.n_grams, 0)::BIGINT AS n_grams, "
        "round(coalesce(per.log_importance, 0.0), 3) AS log_importance "
        "FROM documents d LEFT JOIN per USING (doc_id)"
    )
    # seeded md5 Gumbel noise: u = (x32 + 0.5) / 2^32, g = -ln(-ln u);
    # top-60 by (log_importance + g) IS the weighted sample
    sql["dsir_resample"] = (
        dsir_pre +
        ", keyed AS (SELECT d.doc_id, d.lang, d.source, "
        "coalesce(per.log_importance, 0.0) + "
        "(-ln(-ln((('0x' || substring(md5(d.doc_id::VARCHAR || '|7'), 1, 8))"
        "::BIGINT + 0.5) / 4294967296.0))) AS sample_key "
        "FROM documents d LEFT JOIN per USING (doc_id)) "
        "SELECT doc_id, lang, source FROM keyed "
        "ORDER BY sample_key DESC LIMIT 60"
    )
    # lang_detect: per-language stopword votes (lists verbatim from
    # seqspark.pipeline.textstats._LANG_STOPWORDS); earliest language at
    # the max wins, zero votes -> 'und' — the exact fold semantics
    def _vote(words_sql):
        return (f"len(list_filter(ws, w -> list_contains({words_sql}, w)))")

    _sw = {
        "en": "['the','a','and','of','to','in','is','that','it','for']",
        "de": "['der','die','das','und','ist','nicht','ein','mit','zu']",
        "fr": "['le','la','les','et','est','un','une','pour','dans']",
        "es": "['el','la','los','y','es','un','una','por','para']",
    }
    sql["lang_detect"] = (
        f"WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents), "
        "s AS (SELECT doc_id, "
        + ", ".join(f"{_vote(v)} AS s_{k}" for k, v in _sw.items())
        + " FROM w), "
        "m AS (SELECT *, greatest(s_en, s_de, s_fr, s_es) AS mx FROM s) "
        "SELECT doc_id, CASE WHEN mx <= 0 THEN 'und' "
        "WHEN s_en = mx THEN 'en' WHEN s_de = mx THEN 'de' "
        "WHEN s_fr = mx THEN 'fr' ELSE 'es' END AS lang_guess FROM m"
    )
    # frame_sample: the fake decoder's n_frames = 1 + (3rd sha256 byte % 8)
    # — sha256 over the SAME utf-8 bytes in both engines; selection =
    # distinct floor(i*n/k) for i in 0..k-1
    sql["frame_sample"] = (
        "WITH d AS (SELECT doc_id AS asset_id, "
        "1 + (('0x' || substring(sha256(text), 5, 2))::INTEGER % 8) "
        "AS n_frames FROM documents), "
        "k AS (SELECT asset_id, n_frames, "
        "least(3, n_frames) AS kk FROM d), "
        "idx AS (SELECT asset_id, n_frames, "
        "list_distinct(list_transform(generate_series(0, kk - 1), "
        "i -> ((i * n_frames) // kk)::INTEGER)) AS fs FROM k) "
        "SELECT asset_id, n_frames, unnest(fs) AS frame_index FROM idx"
    )
    # bigram_perplexity: stupid-backoff bigram LM — known-bigram scores
    # ln(cb/c1) against FULL unigram counts, unseen pairs ln(0.4) +
    # Laplace top-100 unigram logp, unknown words the OOV sentinel
    sql["bigram_perplexity"] = (
        f"WITH w AS (SELECT doc_id, {_WORDS} AS ws FROM documents), "
        "toks AS (SELECT doc_id, unnest(ws) AS word FROM w), "
        "counts AS (SELECT word, count(*) AS c FROM toks GROUP BY word), "
        "agg AS (SELECT sum(c) AS total, count(*) AS v FROM counts), "
        "top AS (SELECT word, c FROM counts ORDER BY c DESC, word LIMIT 100), "
        "vocab AS (SELECT word, ln((c + 1)::DOUBLE / (total + v + 1)) AS logp "
        "FROM top, agg), "
        "oovp AS (SELECT ln(1.0 / (total + v + 1)) AS oov FROM agg), "
        "bg AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS bigram "
        "FROM (SELECT doc_id, ws, "
        "unnest(generate_series(1, len(ws) - 1)) AS i FROM w)), "
        "bcounts AS (SELECT bigram, count(*) AS cb FROM bg GROUP BY bigram), "
        "btop AS (SELECT bigram, cb FROM bcounts "
        "ORDER BY cb DESC, bigram LIMIT 300), "
        "bmodel AS (SELECT bigram, ln(cb::DOUBLE / c1) AS logs FROM "
        "(SELECT bigram, cb, split_part(bigram, ' ', 1) AS w1 FROM btop) "
        "JOIN (SELECT word AS w1, c AS c1 FROM counts) USING (w1)), "
        "sp AS (SELECT g.doc_id, coalesce(bm.logs, "
        "ln(0.4) + coalesce(vb.logp, oovp.oov)) AS logs "
        "FROM bg g LEFT JOIN bmodel bm USING (bigram) "
        "LEFT JOIN vocab vb ON vb.word = split_part(g.bigram, ' ', 2), oovp), "
        "per AS (SELECT doc_id, count(*) AS n_bigrams, avg(logs) AS mean_logs "
        "FROM sp GROUP BY doc_id) "
        "SELECT d.doc_id, coalesce(per.n_bigrams, 0)::BIGINT AS n_bigrams, "
        "round(coalesce(per.mean_logs, 0.0), 4) AS mean_logs "
        "FROM documents d LEFT JOIN per USING (doc_id)"
    )
    # html_extract: the IDENTICAL RE2-compatible regexp chain as
    # seqspark.pipeline.textstats.html_to_text (no backreferences, \x0B
    # spelled out — \v is a vertical-whitespace CLASS in Java regex)
    _blk = ("p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|tr|td|th|table|blockquote|"
            "section|article|header|footer|pre|nav|aside|form|hr")
    sql["html_extract"] = (
        "WITH h AS (SELECT doc_id, "
        "'<html><head><title>Doc ' || doc_id::VARCHAR || "
        "'</title><style>p { color: red; }</style>"
        "<script>var t = \"<p>trap</p>\";</script></head><body><h1>' || "
        "source || ' &amp;amp; co</h1><!-- meta ' || lang || ' --><p>' || "
        "text || '</p><div>tail&nbsp;&lt;' || lang || "
        "'&gt;</div><br/>fin</body></html>' AS x FROM documents), "
        "s1 AS (SELECT doc_id, regexp_replace(x, "
        r"'(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g') AS x FROM h), "
        "s2 AS (SELECT doc_id, regexp_replace(x, "
        r"'(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g') AS x FROM s1), "
        "s3 AS (SELECT doc_id, regexp_replace(x, "
        "'(?s)<!--.*?-->', ' ', 'g') AS x FROM s2), "
        "s4 AS (SELECT doc_id, regexp_replace(x, "
        rf"'(?is)</?({_blk})\b[^>]*/?>', e'\n', 'g') AS x FROM s3), "
        "s5 AS (SELECT doc_id, regexp_replace(x, "
        "'(?s)<[^>]*>', ' ', 'g') AS x FROM s4), "
        "e AS (SELECT doc_id, replace(replace(replace(replace(replace("
        "replace(replace(x, '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), "
        "'&quot;', '\"'), '&#39;', ''''), '&apos;', ''''), "
        "'&amp;', '&') AS x FROM s5), "
        "w AS (SELECT doc_id, regexp_replace(x, "
        r"'[ \t\r\f\x0B]+', ' ', 'g') AS x FROM e) "
        "SELECT doc_id, array_to_string(list_filter(list_transform("
        "string_split(x, e'\n'), l -> trim(l)), l -> len(l) > 0), e'\n') "
        "AS text_extracted FROM w"
    )
    shard8 = (
        "(CAST(CONCAT('0x', SUBSTR(md5(CONCAT(CAST(doc_id AS VARCHAR), "
        "'shard:v1')), 1, 15)) AS BIGINT) % 8)"
    )
    sql["train_shuffle"] = (
        f"SELECT doc_id, CAST({shard8} AS INTEGER) AS shard, "
        f"CAST(row_number() OVER (PARTITION BY {shard8} "
        "ORDER BY md5(CONCAT(CAST(doc_id AS VARCHAR), 'order:v1')), doc_id)"
        " - 1 AS BIGINT) AS pos FROM documents"
    )
    sql["mix_sources"] = (
        "WITH weighted AS (SELECT doc_id, source, "
        "CASE source WHEN 'src0' THEN 2.5 WHEN 'src1' THEN 2.0 "
        "WHEN 'src2' THEN 0.5 WHEN 'src3' THEN 0.0 ELSE 1.0 END AS w, "
        f"{bucket('mix:')} AS b FROM documents), "
        "counted AS (SELECT doc_id, source, "
        "CAST(FLOOR(w) + (CASE WHEN b < ROUND((w - FLOOR(w)) * 1000000) "
        "THEN 1 ELSE 0 END) AS INT) AS n FROM weighted) "
        "SELECT c.doc_id, c.source, CAST(u.g AS INT) AS copy "
        "FROM counted c, LATERAL unnest(range(1, c.n + 1)) u(g)"
    )
    sw = "('the','a','and','of','to','in','is','that','it','for')"
    n_sw = f"len(list_filter({_WORDS}, w -> w IN {sw}))"
    n_w = f"len({_WORDS})"
    mean_len = f"(CASE WHEN {n_w} > 0 THEN len(array_to_string({_WORDS}, ''))::DOUBLE / {n_w} ELSE 0 END)"
    alpha = (
        "(CASE WHEN len(text) > 0 THEN "
        "len(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE / len(text) "
        "ELSE 0 END)"
    )
    sw_ratio = f"(CASE WHEN {n_w} > 0 THEN {n_sw}::DOUBLE / {n_w} ELSE 0 END)"
    quality = (
        "(("
        f"(CASE WHEN {mean_len} >= 2 AND {mean_len} <= 12 THEN 1.0 ELSE 0.0 END) + "
        f"{alpha} + "
        f"(CASE WHEN {sw_ratio} > 0.01 THEN 1.0 ELSE 0.0 END)"
        ") / 3.0)"
    )
    sql["text_quality"] = (
        "SELECT doc_id, "
        f"round({sw_ratio}, 4) AS stopword_ratio, "
        f"round({quality}, 4) AS quality FROM documents"
    )
    sql["corpus_curation"] = (
        f"WITH scored AS (SELECT doc_id, text, {quality} AS q "
        f"FROM documents WHERE {quality} >= 0.5), "
        "deduped AS (SELECT doc_id, q, text FROM scored "
        "QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1) "
        "SELECT doc_id, round(q, 4) AS quality, "
        f"len({_WORDS}) AS n_tokens FROM deduped"
    )
    # legacy dialect (`parser/query_parser.go:148`): AND binds tighter than
    # OR, [a TO b] inclusive-inclusive, text values token-AND-ed
    sql["legacy_query"] = (
        f"SELECT {_EV} FROM events WHERE "
        "lower(event_type) = 'click' OR "
        "(lower(event_type) = 'view' AND value >= 10 AND value <= 50)"
    )
    sql["legacy_range"] = (
        f"SELECT {_EV} FROM events WHERE "
        "NOT (lower(event_type) = 'error') AND value > 10 AND value < 50"
    )
    sql["sessionize"] = (
        "WITH s AS (SELECT user_id, epoch_ms(ts) AS ts_ms, "
        "CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL "
        "OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 3600000 THEN 1 ELSE 0 END AS brk "
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
        "numbered AS (SELECT user_id, ts_ms, CAST(sum(brk) OVER "
        "(PARTITION BY user_id ORDER BY ts_ms ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq "
        "FROM s) "
        "SELECT user_id, session_seq, count(*) AS n_events, "
        "min(ts_ms) AS start_ms, max(ts_ms) AS end_ms, "
        "max(ts_ms) - min(ts_ms) AS duration_ms "
        "FROM numbered GROUP BY 1, 2"
    )
    # bucketed sessionization: identical gap-and-islands with the bucket
    # folded into BOTH window partition keys (7-day buckets, 1h gap)
    _bkt = "epoch_ms(ts) - epoch_ms(ts) % 604800000"
    sql["sessionize_bucketed"] = (
        f"WITH s AS (SELECT user_id, epoch_ms(ts) AS ts_ms, ({_bkt}) AS session_bucket, "
        "CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL "
        "OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 3600000 THEN 1 ELSE 0 END AS brk "
        f"FROM events WINDOW w AS (PARTITION BY user_id, ({_bkt}) ORDER BY ts)), "
        "numbered AS (SELECT user_id, ts_ms, session_bucket, CAST(sum(brk) OVER "
        "(PARTITION BY user_id, session_bucket ORDER BY ts_ms ROWS UNBOUNDED PRECEDING) AS INT) AS session_seq "
        "FROM s) "
        "SELECT user_id, session_bucket, session_seq, count(*) AS n_events, "
        "min(ts_ms) AS start_ms FROM numbered GROUP BY 1, 2, 3"
    )
    # the scalable two-phase sessionize must equal the plain single
    # window exactly — same oracle
    sql["sessionize_scalable"] = sql["sessionize"]
    sql["ivf_update"] = (
        "WITH seeds AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, "
        "embedding::DOUBLE[] AS c FROM embeddings ORDER BY vec_id LIMIT 4), "
        "assigned AS (SELECT e.vec_id, e.embedding::DOUBLE[] AS v, "
        "(SELECT s.cell FROM seeds s "
        "ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], s.c) DESC, s.cell ASC "
        "LIMIT 1) AS cell FROM embeddings e), "
        "exploded AS (SELECT cell, generate_subscripts(v, 1) - 1 AS pos, "
        "unnest(v) AS val FROM assigned) "
        "SELECT CAST(cell AS INT) AS cell, CAST(pos AS INT) AS pos, "
        "round(avg(val), 4) AS v FROM exploded GROUP BY 1, 2"
    )
    sql["heavy_hitters"] = (
        f"WITH w AS (SELECT lang, unnest({_WORDS}) AS token FROM documents), "
        "freq AS (SELECT lang, token, count(*) AS cnt FROM w GROUP BY 1, 2) "
        "SELECT lang, token, cnt FROM freq "
        "QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, token) <= 5"
    )
    sql["top_per_group"] = (
        "SELECT event_id, event_type, value FROM events "
        "QUALIFY row_number() OVER (PARTITION BY event_type "
        "ORDER BY value DESC, event_id) <= 3"
    )
    cap_bucket = (
        "(CAST(CONCAT('0x', SUBSTR(md5(CONCAT(CAST(doc_id AS VARCHAR), "
        "'cap:v1')), 1, 15)) AS BIGINT) % 1000000)"
    )
    sql["cap_per_group"] = (
        "SELECT doc_id, source FROM documents "
        f"QUALIFY row_number() OVER (PARTITION BY source ORDER BY {cap_bucket}, doc_id) <= 10"
    )
    # the salted (hot-only two-stage) variant must produce the IDENTICAL
    # set — the oracle is the same single-stage window, cap 3
    sql["cap_per_group_salted"] = (
        "SELECT doc_id, source FROM documents "
        f"QUALIFY row_number() OVER (PARTITION BY source ORDER BY {cap_bucket}, doc_id) <= 3"
    )
    sql["domain_stats"] = (
        "WITH synth AS (SELECT doc_id, 'intro https://' || source || "
        "'.Example.com/' || lang || ' mid https://cdn.shared.net/a end' || "
        "' auth http://user:pw@secure.shared.net/b' AS t "
        "FROM documents), "
        r"u AS (SELECT doc_id, unnest(regexp_extract_all(t, 'https?://(?:[^/@\s]+@)?([\w\.\-]+)', 1)) AS d "
        "FROM synth) "
        "SELECT lower(d) AS domain, count(DISTINCT doc_id) AS n_docs, "
        "count(*) AS n_urls FROM u GROUP BY 1"
    )
    sql["embedding_dup_clusters"] = (
        "WITH RECURSIVE pairs AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b "
        "FROM embeddings a, embeddings b "
        "WHERE a.vec_id < b.vec_id AND a.vec_id < 60 AND b.vec_id < 60 AND "
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) >= 0.3), "
        "sym AS (SELECT id_a AS u, id_b AS v FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs), "
        "reach(u, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM sym) "
        "UNION SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.u) "
        "SELECT u AS vec_id, min(r) AS cluster_root FROM reach GROUP BY u"
    )
    sql["stratified_sample"] = (
        "SELECT doc_id, lang FROM documents WHERE "
        f"{bucket('strata:')} < CASE lang WHEN 'en' THEN 500000 "
        "WHEN 'de' THEN 200000 WHEN 'zh' THEN 1000000 ELSE 100000 END"
    )
    # connected components over the same jaccard pairs as ngram_jaccard,
    # via a recursive min-root propagation CTE
    sql["dup_clusters"] = (
        "WITH RECURSIVE "
        "w AS (SELECT doc_id, " + _WORDS + " AS w FROM documents "
        "WHERE " + _KERNEL_WHERE + "), "
        "sh AS (SELECT doc_id, list_distinct(list_transform("
        "range(1, greatest(len(w) - 2, 1) + 1), "
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS s FROM w), "
        "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b "
        "FROM sh a, sh b WHERE a.doc_id < b.doc_id AND "
        "len(list_intersect(a.s, b.s))::DOUBLE / "
        "len(list_distinct(list_concat(a.s, b.s))) >= 0.3), "
        "sym AS (SELECT id_a AS u, id_b AS v FROM pairs "
        "UNION ALL SELECT id_b, id_a FROM pairs), "
        "reach(u, r) AS (SELECT u, u FROM (SELECT DISTINCT u FROM sym) "
        "UNION SELECT s.v, reach.r FROM reach JOIN sym s ON s.u = reach.u) "
        "SELECT u AS doc_id, min(r) AS cluster_root FROM reach GROUP BY u"
    )
    # SemDeDup cells: nearest-centroid (max cosine, first-wins ties exactly
    # like ivf_assign's strict-greater chain) from the frozen literal
    # centroids; DOUBLE[] casts make DuckDB compute in the same precision
    # Spark does
    def _clit(c):
        return "[" + ",".join(repr(float(x)) for x in c) + "]"

    _sims = ", ".join(
        f"list_cosine_similarity(e, {_clit(c)}) AS s{i}"
        for i, c in enumerate(SEMDEDUP_CENTROIDS)
    )
    _cells_cte = (
        "WITH sims AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings), "
        f"simv AS (SELECT vec_id, e, {_sims} FROM sims), "
        "cells AS (SELECT vec_id, e, CASE "
        "WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0 "
        "WHEN s1 >= s2 AND s1 >= s3 THEN 1 "
        "WHEN s2 >= s3 THEN 2 ELSE 3 END AS cell FROM simv) "
    )
    sql["semantic_dedup_pairs"] = (
        _cells_cte
        + "SELECT x.vec_id AS a, y.vec_id AS b, x.cell AS cell, "
        "round(list_cosine_similarity(x.e, y.e), 4) AS cos "
        "FROM cells x JOIN cells y ON x.cell = y.cell AND x.vec_id < y.vec_id "
        "WHERE round(list_cosine_similarity(x.e, y.e), 4) >= 0.4"
    )
    sql["semantic_dedup"] = (
        _cells_cte
        + "SELECT vec_id, label FROM embeddings WHERE vec_id NOT IN ("
        "SELECT y.vec_id FROM cells x JOIN cells y "
        "ON x.cell = y.cell AND x.vec_id < y.vec_id "
        "WHERE round(list_cosine_similarity(x.e, y.e), 4) >= 0.4)"
    )
    # duplicated-span removal: md5 over the space-joined 8-word window on
    # both sides; first occurrence by (doc_id, pos) wins corpus-wide
    sql["span_dedup"] = (
        "WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws "
        "FROM documents), "
        "pos_list AS (SELECT doc_id, ws, "
        "unnest(generate_series(1, len(ws) - 8 + 1)) AS p FROM words), "
        "occ AS (SELECT doc_id, p - 1 AS pos, "
        "md5(array_to_string(ws[p : p + 7], ' ')) AS h FROM pos_list), "
        "ranked AS (SELECT *, row_number() OVER "
        "(PARTITION BY h ORDER BY doc_id, pos) AS rn FROM occ), "
        "cov_raw AS (SELECT doc_id, "
        "unnest(generate_series(pos, pos + 7)) AS cp FROM ranked WHERE rn > 1), "
        "covered AS (SELECT DISTINCT doc_id, cp FROM cov_raw), "
        "tok_idx AS (SELECT doc_id, ws, "
        "unnest(generate_series(1, len(ws))) AS i FROM words), "
        "toks AS (SELECT doc_id, i - 1 AS idx, ws[i] AS w FROM tok_idx), "
        "kept AS (SELECT t.doc_id, t.idx, t.w FROM toks t "
        "LEFT JOIN covered c ON c.doc_id = t.doc_id AND c.cp = t.idx "
        "WHERE c.doc_id IS NULL) "
        "SELECT w.doc_id, coalesce(k.ct, '') AS clean_text FROM words w "
        "LEFT JOIN (SELECT doc_id, string_agg(w, ' ' ORDER BY idx) AS ct "
        "FROM kept GROUP BY doc_id) k ON k.doc_id = w.doc_id"
    )
    # fuzzy contamination: doc-pair 3-gram Jaccard across the parity
    # train/test split with a document-frequency cap on join grams
    _g3 = (
        "list_distinct(list_transform(range(1, greatest(len(W) - 2, 1) + 1), "
        "i -> W[i] || ' ' || W[i+1] || ' ' || W[i+2]))"
    ).replace("W", "w")
    sql["fuzzy_contamination"] = (
        "WITH tr AS (SELECT doc_id AS train_id, " + _WORDS + " AS w "
        "FROM documents WHERE doc_id % 2 = 0), "
        "te AS (SELECT doc_id AS test_id, " + _WORDS + " AS w "
        "FROM documents WHERE doc_id % 2 = 1), "
        f"dg AS (SELECT DISTINCT train_id, unnest({_g3}) AS gram FROM tr), "
        f"bg AS (SELECT DISTINCT test_id, unnest({_g3}) AS gram FROM te), "
        "capg AS (SELECT gram FROM (SELECT gram FROM dg UNION ALL "
        "SELECT gram FROM bg) GROUP BY gram HAVING count(*) <= 100), "
        "dgc AS (SELECT dg.* FROM dg JOIN capg USING (gram)), "
        "bgc AS (SELECT bg.* FROM bg JOIN capg USING (gram)), "
        "ds AS (SELECT train_id, count(*) AS na FROM dgc GROUP BY 1), "
        "bs AS (SELECT test_id, count(*) AS nb FROM bgc GROUP BY 1), "
        "ix AS (SELECT train_id, test_id, count(*) AS inter "
        "FROM dgc JOIN bgc USING (gram) GROUP BY 1, 2) "
        "SELECT ix.train_id, ix.test_id, ix.inter, "
        "round(ix.inter / (ds.na + bs.nb - ix.inter)::DOUBLE, 6) AS jaccard "
        "FROM ix JOIN ds USING (train_id) JOIN bs USING (test_id) "
        "WHERE ix.inter / (ds.na + bs.nb - ix.inter)::DOUBLE >= 0.4"
    )
    # quality classifier: identical hashed-feature scoring in SQL — the
    # weight vector rides as a literal list, the md5-prefix index matches
    # hashed_token_index exactly
    _qw = "[" + ",".join(repr(float(x)) for x in QC_WEIGHTS) + "]"
    sql["quality_classifier"] = (
        "WITH w AS (SELECT doc_id, " + _WORDS + " AS w FROM documents), "
        "s AS (SELECT doc_id, len(w) AS n, list_sum(list_transform(w, "
        f"x -> ({_qw}::DOUBLE[])[(('0x' || substring(md5(x), 1, 4))::INTEGER "
        f"% {len(QC_WEIGHTS)}) + 1])) AS tot FROM w) "
        f"SELECT doc_id, round(1.0 / (1.0 + exp(-({QC_BIAS!r} + "
        "CASE WHEN n > 0 THEN tot / n ELSE 0.0 END))), 6) AS quality_p FROM s"
    )
    # sequence packing: same shard hash (md5-prefix bucket % shards) and
    # per-shard running token offsets via a window sum
    sql["pack_sequences"] = (
        "WITH t AS (SELECT doc_id, len(" + _WORDS + ") AS n, "
        "(CAST(CONCAT('0x', SUBSTR(md5(CONCAT(CAST(doc_id AS VARCHAR), "
        "'pack')), 1, 15)) AS BIGINT) % 1000000) % 8 AS pack_shard "
        "FROM documents), "
        "o AS (SELECT doc_id, n, pack_shard, sum(n) OVER ("
        "PARTITION BY pack_shard ORDER BY doc_id "
        "ROWS UNBOUNDED PRECEDING) AS end_tok FROM t) "
        "SELECT doc_id, CAST(pack_shard AS INTEGER) AS pack_shard, "
        "CAST(end_tok - n AS BIGINT) AS start_tok, "
        "CAST(floor((end_tok - n) / 512) AS BIGINT) AS first_seq, "
        "CAST(greatest(floor((end_tok - 1) / 512), "
        "floor((end_tok - n) / 512)) AS BIGINT) AS last_seq FROM o"
    )
    # hamming near-dup join: brute-forced in SQL (bit_count over xor)
    sql["hamming_dupes"] = (
        "WITH h AS (SELECT doc_id, ('0x' || substring(md5("
        "array_to_string(string_split(text, ' ')[1:2], ' ')"
        "), 1, 15))::BIGINT AS h FROM documents) "
        "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
        "bit_count(xor(a.h, b.h))::INTEGER AS distance "
        "FROM h a JOIN h b ON a.doc_id < b.doc_id "
        "WHERE bit_count(xor(a.h, b.h)) <= 4"
    )
    sql["hamming_dedup"] = (
        "WITH h AS (SELECT doc_id, ('0x' || substring(md5("
        "array_to_string(string_split(text, ' ')[1:2], ' ')"
        "), 1, 15))::BIGINT AS h FROM documents), "
        "losers AS (SELECT DISTINCT b.doc_id FROM h a JOIN h b "
        "ON a.doc_id < b.doc_id WHERE bit_count(xor(a.h, b.h)) <= 4) "
        "SELECT h.doc_id, h.h FROM h LEFT JOIN losers l "
        "ON l.doc_id = h.doc_id WHERE l.doc_id IS NULL"
    )
    # MinHash-LSH, hash-green via the portable md5 variant: the oracle
    # replicates the ENTIRE pipeline (shingles → 32-perm signature →
    # 8 band keys → bucket cap → candidate join → exact-Jaccard verify)
    # from the same parameters — dedup.portable_lsh_sql is the generator
    from seqspark.pipeline.dedup import portable_lsh_sql

    _lsh = portable_lsh_sql(k=3, num_hashes=32, bands=8, seed=73)
    _lsh_stages = (
        "sh AS (SELECT id, {sh} AS sh FROM ws), "
        "sig AS (SELECT id, {sig} AS sig FROM sh), "
        "keyed AS (SELECT id, unnest({bands}) AS band FROM sig)"
    ).format(sh=_lsh["shingles"]("ws"), sig=_lsh["sig"]("sh"), bands=_lsh["bands"]("sig"))
    sql["minhash_lsh_pairs"] = (
        f"WITH ws AS (SELECT doc_id AS id, {_WORDS} AS ws FROM documents), "
        + _lsh_stages
        + ", capped AS (SELECT id, band FROM keyed "
        "QUALIFY row_number() OVER (PARTITION BY band ORDER BY id) <= 200), "
        "cands AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b "
        "FROM capped a JOIN capped b USING (band) WHERE a.id < b.id), "
        "j AS (SELECT c.id_a, c.id_b, "
        "len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
        "len(list_distinct(sa.sh || sb.sh)) AS jac "
        "FROM cands c JOIN sh sa ON sa.id = c.id_a "
        "JOIN sh sb ON sb.id = c.id_b) "
        "SELECT id_a, id_b, round(jac, 3) AS jaccard FROM j WHERE jac >= 0.3"
    )
    # incremental LSH: corpus band STATE (uncapped, as persisted) joined
    # by a batch increment; within-batch side capped at 200 like the
    # Spark path; batch = odd ids + re-labeled %10==0 texts (planted dups)
    _b_stages = (
        "bsh AS (SELECT id, {sh} AS sh FROM bws), "
        "bsig AS (SELECT id, {sig} AS sig FROM bsh), "
        "bkeyed AS (SELECT id, unnest({bands}) AS band FROM bsig)"
    ).format(sh=_lsh["shingles"]("ws"), sig=_lsh["sig"]("sh"), bands=_lsh["bands"]("sig"))
    sql["incremental_lsh_dupes"] = (
        "WITH corpus AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 2 = 0), "
        "batch AS (SELECT doc_id AS id, text FROM documents WHERE doc_id % 2 = 1 "
        "UNION ALL SELECT doc_id + 500000 AS id, text "
        "FROM documents WHERE doc_id % 10 = 0), "
        f"ws AS (SELECT id, {_WORDS} AS ws FROM corpus), "
        + _lsh_stages
        + f", bws AS (SELECT id, {_WORDS} AS ws FROM batch), "
        + _b_stages
        + ", "
        "vs_corpus AS (SELECT b.id AS id_a, s.id AS id_b "
        "FROM bkeyed b JOIN keyed s USING (band) WHERE b.id != s.id), "
        "bcapped AS (SELECT id, band FROM bkeyed "
        "QUALIFY row_number() OVER (PARTITION BY band ORDER BY id) <= 200), "
        "within AS (SELECT a.id AS id_a, b.id AS id_b "
        "FROM bcapped a JOIN bcapped b USING (band) WHERE a.id > b.id), "
        "cands AS (SELECT DISTINCT id_a, id_b FROM "
        "(SELECT * FROM vs_corpus UNION ALL SELECT * FROM within)), "
        "ush AS (SELECT * FROM sh UNION ALL SELECT * FROM bsh), "
        "j AS (SELECT c.id_a, c.id_b, "
        "len(list_intersect(sa.sh, sb.sh))::DOUBLE / "
        "len(list_distinct(sa.sh || sb.sh)) AS jac "
        "FROM cands c JOIN ush sa ON sa.id = c.id_a "
        "JOIN ush sb ON sb.id = c.id_b) "
        "SELECT id_a, id_b, round(jac, 3) AS jaccard FROM j WHERE jac >= 0.3"
    )
    # built-in session_window twin: SQL gap-and-islands at MICROSECOND
    # precision (the gap compares event times before ms truncation, like
    # Spark's TimestampType), outputs truncated to ms like unix_millis
    sql["sessionize_native"] = (
        "WITH e AS (SELECT user_id, epoch_us(ts) AS us FROM events), "
        "m AS (SELECT user_id, us, CASE WHEN "
        "lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL "
        "OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) >= 600000000 "
        "THEN 1 ELSE 0 END AS brk FROM e), "
        "s AS (SELECT user_id, us, sum(brk) OVER (PARTITION BY user_id "
        "ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM m) "
        "SELECT user_id, CAST(min(us) // 1000 AS BIGINT) AS session_start_ms, "
        "CAST(max(us) // 1000 AS BIGINT) AS session_end_ms, "
        "count(*) AS n_events FROM s GROUP BY user_id, sid"
    )
    # sketch-balanced sampling: literal hyperplanes (lsh_oracle_sql) +
    # md5 rank — the whole selection replays in DuckDB
    from seqspark.pipeline.ann import lsh_oracle_sql

    _bal = lsh_oracle_sql(dim=64, bits=8, bands=1, seed=7)
    sql["sketch_balanced_sample"] = (
        f"WITH sk AS (SELECT vec_id, {_bal['sketch']('embedding::DOUBLE[]')} "
        "AS sketch FROM embeddings) "
        "SELECT vec_id, sketch FROM sk QUALIFY row_number() OVER ("
        "PARTITION BY sketch ORDER BY "
        "('0x' || substring(md5(vec_id::VARCHAR || 'balance:'), 1, 15))"
        "::BIGINT % 1000000, vec_id) <= 5"
    )
    # hyperplane-LSH ANN, hash-green: planes are seed-deterministic and
    # embedded as literals; same cosine idiom as ann_brute_topk
    _alsh = lsh_oracle_sql(dim=64, bits=12, bands=4, seed=7)
    _cos = "list_cosine_similarity(s.embedding::DOUBLE[], (SELECT qv FROM q))"
    sql["ann_lsh_topk"] = (
        "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0), "
        f"qs AS (SELECT {_alsh['sketch']('(SELECT qv FROM q)')} AS qsk), "
        "sk AS (SELECT vec_id, embedding, "
        f"{_alsh['sketch']('embedding::DOUBLE[]')} AS sketch "
        "FROM embeddings WHERE vec_id <> 0) "
        f"SELECT s.vec_id, round({_cos}, 4) AS score FROM sk s, qs "
        f"WHERE {_alsh['band_cond']('s.sketch', 'qs.qsk')} "
        f"ORDER BY {_cos} DESC, s.vec_id ASC LIMIT 10"
    )
    # SimHash, hash-green via the portable 60-bit md5 fingerprint: the
    # oracle rebuilds per-token hashes, 60 sign-of-vote bits, and the
    # 15-bit band self-join from the same parameters
    from seqspark.pipeline.dedup import simhash_oracle_sql

    _sim = simhash_oracle_sql(bands=4, seed=73)
    sql["simhash_candidates"] = (
        f"WITH ws AS (SELECT doc_id AS id, {_WORDS} AS ws "
        "FROM documents WHERE doc_id < 100), "
        f"h AS (SELECT id, {_sim['hashes']('ws')} AS hs FROM ws), "
        f"fp AS (SELECT id, {_sim['fp']('hs')} AS fp FROM h), "
        f"keyed AS (SELECT id, unnest({_sim['bands']('fp')}) AS band FROM fp) "
        "SELECT DISTINCT a.id AS id_a, b.id AS id_b "
        "FROM keyed a JOIN keyed b USING (band) WHERE a.id < b.id"
    )
    # BPE encode: the oracle runs the IDENTICAL frozen replace-chain,
    # generated from the same BPE_MERGES literals the Spark plan froze in
    # (seqspark/pipeline/bpe.py docstring proves the chain == greedy BPE).
    # EOW (\x17) renders as '</w>' after the join — tokens never contain
    # spaces, so the post-join replace equals Spark's per-token replace.
    from seqspark.pipeline.bpe import EOW, bpe_oracle_chain_sql

    _chain = bpe_oracle_chain_sql(BPE_MERGES, "w")
    sql["bpe_encode"] = (
        f"WITH t AS (SELECT doc_id, flatten(list_transform({_WORDS}, "
        f"w -> {_chain})) AS toks FROM documents) "
        f"SELECT doc_id, replace(array_to_string(toks, ' '), "
        f"chr({ord(EOW)}), '</w>') AS bpe_text, "
        "CAST(len(toks) AS BIGINT) AS n_bpe_tokens FROM t"
    )
    # the dictionary encode path produces the identical output — same oracle
    sql["bpe_encode_dict"] = sql["bpe_encode"]
    # multimodal entries, hash-green (r11, formerly the last rows-only
    # three): the real-codec kernels are deterministic functions of the
    # deterministic fixture, so their outputs were digested ONCE
    # (tools/gen_multimodal_expected.py) and frozen as literals — the
    # same trick as ann_lsh_topk's literal hyperplanes, applied to
    # binary kernels. A decode/resize/dhash regression now FAILS the
    # contract; it cannot silently move the oracle.
    sql["frame_sample_gif"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nf}, {fi}, '{sha}')"
            for i, nf, fi, sha in FRAME_SAMPLE_GIF_EXPECTED
        )
        + ") AS t(asset_id, n_frames, frame_index, frame_sha)"
    )
    sql["frame_sample_y4m"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nf}, {fi}, '{sha}')"
            for i, nf, fi, sha in FRAME_SAMPLE_Y4M_EXPECTED
        )
        + ") AS t(asset_id, n_frames, frame_index, frame_sha)"
    )
    sql["frame_sample_apng"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nf}, {fi}, '{sha}')"
            for i, nf, fi, sha in FRAME_SAMPLE_APNG_EXPECTED
        )
        + ") AS t(asset_id, n_frames, frame_index, frame_sha)"
    )
    sql["multimodal_decode"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{m}', CAST({nb} AS BIGINT), '{sha}', {w}, {h}, {nf})"
            for i, m, nb, sha, w, h, nf in MULTIMODAL_DECODE_EXPECTED
        )
        + ") AS t(asset_id, media_type, n_bytes, sha256, width, height, n_frames)"
    )
    sql["multimodal_resize"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{sha}', {nb}, {w}, {h})"
            for i, sha, nb, w, h in MULTIMODAL_RESIZE_EXPECTED
        )
        + ") AS t(asset_id, sha256, n_bytes, width, height)"
    )
    # dHash pairs: only the per-asset dHash values are frozen; the pair
    # SEMANTICS (every id<id pair within Hamming distance 4, planted
    # +1000 copies included, NULL audio hashes never pairing) are
    # REPLAYED in DuckDB as brute-force bit_count(xor) over the literal
    # table — pigeonhole banding is exact, so the sets must be equal
    _dh_vals = ", ".join(
        f"({i}, {'CAST(NULL AS BIGINT)' if d is None else f'CAST({d} AS BIGINT)'})"
        for i, d in IMAGE_DHASH_EXPECTED
    )
    sql["image_dhash_dupes"] = (
        f"WITH h(asset_id, dhash) AS (VALUES {_dh_vals}), "
        "hh AS (SELECT asset_id, dhash FROM h WHERE dhash IS NOT NULL "
        "UNION ALL "
        "SELECT asset_id + 1000, dhash FROM h WHERE dhash IS NOT NULL) "
        "SELECT a.asset_id AS id_a, b.asset_id AS id_b, "
        "CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS distance "
        "FROM hh a JOIN hh b ON a.asset_id < b.asset_id "
        "WHERE bit_count(xor(a.dhash, b.dhash)) <= 4"
    )
    # r12b baseline-JPEG entries: same frozen-digest discipline over the
    # JPEG fixture (gray/444/422/420, restart, wide DQT, odd dims) and
    # the MJPEG-AVI video fixture
    sql["multimodal_resize_jpeg"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, '{sha}', {nb}, {w}, {h})"
            for i, sha, nb, w, h in JPEG_RESIZE_EXPECTED
        )
        + ") AS t(asset_id, sha256, n_bytes, width, height)"
    )
    sql["image_dhash_jpeg"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, CAST({d} AS BIGINT))" for i, d in IMAGE_DHASH_JPEG_EXPECTED
        )
        + ") AS t(asset_id, dhash)"
    )
    sql["frame_sample_mjpeg"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nf}, {fi}, '{sha}')"
            for i, nf, fi, sha in FRAME_SAMPLE_MJPEG_EXPECTED
        )
        + ") AS t(asset_id, n_frames, frame_index, frame_sha)"
    )
    sql["multimodal_webp_anim"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nf}, {fi}, CAST({dh} AS BIGINT))"
            for i, nf, fi, dh in FRAME_SAMPLE_WEBP_EXPECTED
        )
        + ") AS t(asset_id, n_frames, frame_index, dhash)"
    )
    sql["audio_features"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {sr}, {nc}, CAST({ns} AS BIGINT), {rms!r}, {zc!r}, "
            f"{cent!r}, CAST({fp} AS BIGINT))"
            for i, sr, nc, ns, rms, zc, cent, fp in AUDIO_FEATURES_EXPECTED
        )
        + ") AS t(asset_id, sample_rate, n_channels, n_samples, rms, zcr,"
        " centroid_hz, fingerprint)"
    )
    sql["audio_features_flac"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {sr}, {nc}, CAST({ns} AS BIGINT), {rms!r}, {zc!r}, "
            f"{cent!r}, CAST({fp} AS BIGINT))"
            for i, sr, nc, ns, rms, zc, cent, fp
            in AUDIO_FEATURES_FLAC_EXPECTED
        )
        + ") AS t(asset_id, sample_rate, n_channels, n_samples, rms, zcr,"
        " centroid_hz, fingerprint)"
    )
    sql["audio_features_wavext"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {sr}, {nc}, CAST({ns} AS BIGINT), {rms!r}, {zc!r}, "
            f"{cent!r}, CAST({fp} AS BIGINT))"
            for i, sr, nc, ns, rms, zc, cent, fp
            in AUDIO_FEATURES_WAVEXT_EXPECTED
        )
        + ") AS t(asset_id, sample_rate, n_channels, n_samples, rms, zcr,"
        " centroid_hz, fingerprint)"
    )
    sql["audio_features_adpcm"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {sr}, {nc}, CAST({ns} AS BIGINT), {rms!r}, {zc!r}, "
            f"{cent!r}, CAST({fp} AS BIGINT))"
            for i, sr, nc, ns, rms, zc, cent, fp
            in AUDIO_FEATURES_ADPCM_EXPECTED
        )
        + ") AS t(asset_id, sample_rate, n_channels, n_samples, rms, zcr,"
        " centroid_hz, fingerprint)"
    )
    sql["multimodal_bmp"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', {w}, {h}, {nf}, CAST({dh} AS BIGINT))"
            for i, nb, sha, w, h, nf, dh in MULTIMODAL_BMP_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, width, height, n_frames,"
        " dhash)"
    )
    sql["multimodal_bmp_rle"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', {w}, {h}, {nf}, CAST({dh} AS BIGINT))"
            for i, nb, sha, w, h, nf, dh in MULTIMODAL_BMP_RLE_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, width, height, n_frames,"
        " dhash)"
    )
    from seqspark.pipeline.sampling import weighted_sample_oracle_sql

    sql["weighted_sample"] = weighted_sample_oracle_sql(
        50, "length(text) + 1", "doc_id", "documents",
        "doc_id, (length(text) + 1)::DOUBLE AS w", seed="docs")
    sql["multimodal_tiff"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', {w}, {h}, {nf})"
            for i, nb, sha, w, h, nf in MULTIMODAL_TIFF_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, width, height, n_frames)"
    )
    sql["multimodal_tiff_pixels"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', {w}, {h}, {nf}, CAST({dh} AS BIGINT))"
            for i, nb, sha, w, h, nf, dh in MULTIMODAL_TIFF_PX_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, width, height, n_frames,"
        " dhash)"
    )
    sql["multimodal_webp_lossy"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', {w}, {h}, {nf}, CAST({dh} AS BIGINT))"
            for i, nb, sha, w, h, nf, dh in MULTIMODAL_WEBP_LOSSY_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, width, height, n_frames,"
        " dhash)"
    )
    sql["multimodal_webp_pixels"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', {w}, {h}, {nf}, CAST({dh} AS BIGINT))"
            for i, nb, sha, w, h, nf, dh in MULTIMODAL_WEBP_PX_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, width, height, n_frames,"
        " dhash)"
    )
    sql["multimodal_mp3"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', '{cont}', {sr}, {nc}, "
            f"CAST({ns} AS BIGINT), {dur!r})"
            for i, nb, sha, cont, sr, nc, ns, dur in MULTIMODAL_MP3_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, container, sample_rate,"
        " n_channels, n_samples, duration_s)"
    )
    sql["multimodal_ogg"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', '{cont}', {sr}, {nc}, "
            f"CAST({ns} AS BIGINT), {dur!r})"
            for i, nb, sha, cont, sr, nc, ns, dur in MULTIMODAL_OGG_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, container, sample_rate,"
        " n_channels, n_samples, duration_s)"
    )
    sql["multimodal_oggflac"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', '{cont}', {sr}, {nc}, "
            f"CAST({ns} AS BIGINT), {dur!r})"
            for i, nb, sha, cont, sr, nc, ns, dur
            in MULTIMODAL_OGGFLAC_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, container, sample_rate,"
        " n_channels, n_samples, duration_s)"
    )
    sql["multimodal_webp"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', {w}, {h}, {nf})"
            for i, nb, sha, w, h, nf in MULTIMODAL_WEBP_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, width, height, n_frames)"
    )
    sql["multimodal_isobmff"] = (
        "SELECT * FROM (VALUES "
        + ", ".join(
            f"({i}, {nb}, '{sha}', '{mt}', {w}, {h}, {nf})"
            for i, nb, sha, mt, w, h, nf in MULTIMODAL_ISOBMFF_EXPECTED
        )
        + ") AS t(asset_id, n_bytes, sha256, media_type, width, height,"
        " n_frames)"
    )
    from seqspark.pipeline.ann import pq_oracle_sql

    sql["ann_pq_topk"] = pq_oracle_sql(PQ_CODEBOOKS, PQ_QUERY, k=10)
    from seqspark.pipeline.ann import sq_oracle_sql

    sql["ann_sq_topk"] = sq_oracle_sql(SQ_BOUNDS, PQ_QUERY, k=10)
    from seqspark.pipeline.ann import ivf_sq_oracle_sql

    sql["ann_ivfsq_topk"] = ivf_sq_oracle_sql(
        SEMDEDUP_CENTROIDS, SQ_BOUNDS, PQ_QUERY, k=10, nprobe=2)
    sql["ann_opq_topk"] = pq_oracle_sql(
        OPQ_CODEBOOKS, PQ_QUERY, k=10, rotation=OPQ_ROTATION)
    from seqspark.pipeline.ann import ivf_pq_residual_oracle_sql

    sql["ann_ivfpq_residual"] = ivf_pq_residual_oracle_sql(
        SEMDEDUP_CENTROIDS, PQ_RESIDUAL_CODEBOOKS, PQ_QUERY, k=10, nprobe=2)
    from seqspark.pipeline.ann import pq_rerank_oracle_sql

    sql["ann_pq_rerank"] = pq_rerank_oracle_sql(PQ_CODEBOOKS, PQ_QUERY, k=10)
    sql["ann_pq_batch"] = " UNION ALL ".join(
        f"SELECT {qi} AS query_id, vec_id, adist FROM ("
        + pq_oracle_sql(PQ_CODEBOOKS, qv, k=10)
        + ")"
        for qi, qv in ((0, PQ_QUERY), (1, SEMDEDUP_CENTROIDS[1]))
    )
    _udocs = ", ".join(
        f"({i}, {('NULL' if t is None else chr(39) + t.replace(chr(39), chr(39)*2) + chr(39))})"
        for i, t in UNIGRAM_FIXTURE_DOCS
    )
    _useg = ", ".join(
        "(" + repr(w) + ", [" + ", ".join(repr(t) for t in toks) + "])"
        for w, toks in UNIGRAM_SEG
    )
    sql["unigram_encode"] = (
        f"WITH docs(doc_id, text) AS (VALUES {_udocs}), "
        f"seg(w, toks) AS (VALUES {_useg}), "
        f"t AS (SELECT doc_id, text, {_WORDS} AS ws FROM docs), "
        "ex AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, "
        "ws FROM t), "
        "exw AS (SELECT doc_id, pos, ws[pos] AS w FROM ex), "
        "j AS (SELECT e.doc_id, e.pos, s.toks FROM exw e "
        "JOIN seg s ON s.w = e.w), "
        "agg AS (SELECT doc_id, flatten(list(toks ORDER BY pos)) AS toks "
        "FROM j GROUP BY doc_id) "
        "SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL "
        "ELSE coalesce(array_to_string(a.toks, ' '), '') END "
        "AS unigram_text, CASE WHEN d.text IS NULL THEN NULL ELSE "
        "CAST(coalesce(len(a.toks), 0) AS BIGINT) END AS n_unigram_tokens "
        "FROM docs d LEFT JOIN agg a USING (doc_id)"
    )
    _uvar = ", ".join(
        "(" + repr(w) + ", ["
        + ", ".join(
            "[" + ", ".join(repr(t) for t in v) + "]" for v in vs
        )
        + "])"
        for w, vs in UNIGRAM_VARIANTS
    )
    sql["unigram_sample_encode"] = (
        f"WITH docs(doc_id, text) AS (VALUES {_udocs}), "
        f"seg(w, variants) AS (VALUES {_uvar}), "
        f"t AS (SELECT doc_id, text, {_WORDS} AS ws FROM docs), "
        "ex AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS pos, "
        "ws FROM t), "
        # Spark's posexplode is 0-based: the md5 pick hashes pos-1
        "exw AS (SELECT doc_id, pos, ws[pos] AS w, "
        "(('0x' || substring(md5(doc_id::VARCHAR || ':' || "
        "(pos - 1)::VARCHAR || ':' || '7'), 1, 4))::INTEGER % 4 + 1) "
        "AS pick FROM ex), "
        "j AS (SELECT e.doc_id, e.pos, s.variants[e.pick] AS toks "
        "FROM exw e JOIN seg s ON s.w = e.w), "
        "agg AS (SELECT doc_id, flatten(list(toks ORDER BY pos)) AS toks "
        "FROM j GROUP BY doc_id) "
        "SELECT d.doc_id, CASE WHEN d.text IS NULL THEN NULL "
        "ELSE coalesce(array_to_string(a.toks, ' '), '') END "
        "AS unigram_text, CASE WHEN d.text IS NULL THEN NULL ELSE "
        "CAST(coalesce(len(a.toks), 0) AS BIGINT) END AS n_unigram_tokens "
        "FROM docs d LEFT JOIN agg a USING (doc_id)"
    )
    _fdh = ", ".join(
        f"({a}, {nf}, {fi}, CAST({d} AS BIGINT))"
        for a, nf, fi, d in FRAME_DHASH_EXPECTED
    )
    sql["video_keyframes"] = (
        f"WITH fdh(asset_id, n_frames, frame_index, dhash) AS "
        f"(VALUES {_fdh}), "
        "d AS (SELECT asset_id, n_frames, frame_index, CAST(CASE WHEN "
        "frame_index = 0 THEN 64 ELSE bit_count(xor(dhash, "
        "lag(dhash) OVER (PARTITION BY asset_id ORDER BY frame_index))) "
        "END AS INTEGER) AS novelty FROM fdh), "
        "r AS (SELECT *, row_number() OVER (PARTITION BY asset_id "
        "ORDER BY novelty DESC, frame_index ASC) AS rk FROM d) "
        "SELECT asset_id, n_frames, frame_index, novelty FROM r "
        "WHERE rk <= 3"
    )
    _afp_vals = ", ".join(
        f"({i}, CAST({fp} AS BIGINT))" for i, fp in AUDIO_PAIR_FP_EXPECTED
    )
    sql["audio_dupes"] = (
        f"WITH h(asset_id, fp) AS (VALUES {_afp_vals}) "
        "SELECT a.asset_id AS id_a, b.asset_id AS id_b, "
        "CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS distance "
        "FROM h a JOIN h b ON a.asset_id < b.asset_id "
        "WHERE bit_count(xor(a.fp, b.fp)) <= 3"
    )
    return {k: v for k, v in sql.items() if v is not None}
