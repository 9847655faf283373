"""Materialized inverted index: the 100 TB full-text path.

The reference serves every text query from per-fraction posting lists —
sorted token dictionaries mapping token → LID list
(`frac/sealed_index.go:218-266`, `frac/token/block.go`), built once at seal
time. The Spark-native equivalent (SURVEY §7.2) is a materialized
``(field, token, mid, rid)`` table:

- built once per ingest/compaction from the document store's token columns
  (`build_inverted_index`), partitioned by ``field`` and bucketable by
  ``token`` so a token lookup touches one partition's dictionary pages;
- a multi-token AND query becomes: filter the index to the query tokens →
  group by doc id → ``HAVING count(DISTINCT token) = n`` → semi-join the
  doc table on id (`search_tokens`). The index scan reads ONLY the rows of
  the queried tokens (parquet dictionary/stats prune the token column), so
  query cost is proportional to posting-list size, not corpus size — the
  posting-list intersection of `node/node_and.go:41-56` as a DataFrame.

Trade-off mirror of the reference: the index costs one extra table at
ingest (like seal-time index files) and pays off when queries are selective;
match-heavy queries should fall back to the token-column scan.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class IndexStats:
    """Doc-frequency stats of the HOTTEST index tokens — the
    dictionary-narrowing signal of `pattern/pattern.go:50-64` turned into a
    routing heuristic: a token absent from the hot list is rare by
    construction (everything hotter is listed), so the posting-list
    semi-join will shrink the scan; a listed token above the selectivity
    threshold matches so much of the corpus that routing through the index
    would just add a join to a near-full scan.

    The struct is tiny (≤ top_k entries) and lives on the driver, like the
    reference's in-memory token dictionaries."""

    total_docs: int
    df: Dict[Tuple[str, str], int] = dc_field(default_factory=dict)
    #: df ratio the hot list was truncated at — tokens NOT listed are
    #: guaranteed to have a ratio <= floor (0.0 when top_k wasn't reached)
    floor: float = 0.0

    def ratio(self, fld: str, token: str) -> float:
        n = self.df.get((fld, token))
        if n is None:
            return self.floor
        return n / max(1, self.total_docs)

    def prefix_bound(self, fld: str, prefix: str) -> Optional[int]:
        """Upper bound on the number of docs whose ``fld`` has ANY token
        starting with ``prefix`` — the wildcard analogue of the per-token
        ratios (the prefix dictionary narrowing of
        `pattern/pattern.go:110-121`): the per-token doc counts summed
        over the matching dictionary range bound the union's size.

        Only sound when the hot list holds the FULL dictionary
        (``floor == 0.0``): a truncated list can hide arbitrarily many
        sub-floor tokens under the prefix, so the tail is unbounded and
        the answer is honestly ``None`` (no broadcast hint, never a
        wrong one)."""
        if self.floor > 0.0:
            return None
        return sum(
            n
            for (f, t), n in self.df.items()
            if f == fld and t.startswith(prefix)
        )


def collect_index_stats(
    index_df: DataFrame, total_docs: int, top_k: int = 4096
) -> IndexStats:
    """One TakeOrdered aggregation over the index: doc frequency of the
    ``top_k`` most frequent (field, token) pairs. k×(field+token) strings
    cross the driver; the index itself never does."""
    rows = (
        index_df.groupBy("field", "token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "field", "token")
        .limit(top_k)
        .collect()
    )
    df = {(r["field"], r["token"]): r["n"] for r in rows}
    floor = (
        min(df.values()) / max(1, total_docs)
        if df and len(df) == top_k
        else 0.0
    )
    return IndexStats(total_docs=total_docs, df=df, floor=floor)


def build_inverted_index(
    df: DataFrame,
    token_cols: Dict[str, object],
    id_cols: Sequence[str] = ("mid", "rid"),
) -> DataFrame:
    """Explode token-array columns into ``(field, token, <id_cols>)`` rows.

    ``token_cols`` maps queried field name → the array<string> token column:
    a column name (``{"text": "__tok_text"}`` for a tokens-at-rest table),
    or a Column expression (``{"message": F.col("tokens")["message"]}`` for
    a doc store's token map). Duplicate tokens within one document are
    collapsed — posting lists store each doc once per token
    (`frac/token/block.go`).
    """
    parts: List[DataFrame] = []
    ids = [F.col(c) for c in id_cols]
    for field, col in token_cols.items():
        c = F.col(col) if isinstance(col, str) else col
        parts.append(
            df.select(
                F.lit(field).alias("field"),
                F.explode(F.array_distinct(c)).alias("token"),
                *ids,
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def write_inverted_index(
    index_df: DataFrame, path: str, mode: str = "overwrite"
) -> None:
    """Persist partitioned by field (one directory per field, like one
    dictionary per indexed field); within a partition, sorting by token
    gives parquet min/max pages the sorted-dictionary narrowing of
    `pattern/pattern.go:50-64`."""
    (
        index_df.repartition("field")
        .sortWithinPartitions("token")
        .write.partitionBy("field")
        .mode(mode)
        .parquet(path)
    )


def matching_ids(
    index_df: DataFrame,
    field: str,
    tokens: Sequence[str],
    id_cols: Sequence[str] = ("mid", "rid"),
) -> DataFrame:
    """Doc ids whose ``field`` contains ALL of ``tokens`` — the AND-node
    posting-list intersection (`node/node_and.go:41-56`): one pruned index
    scan, group by id, keep ids that matched every token."""
    toks = [t for t in tokens]
    if not toks:
        raise ValueError("at least one token required")
    hits = index_df.filter(
        (F.col("field") == F.lit(field)) & F.col("token").isin(toks)
    )
    return (
        hits.groupBy(*[F.col(c) for c in id_cols])
        .agg(F.count_distinct(F.col("token")).alias("__nt"))
        .filter(F.col("__nt") == F.lit(len(toks)))
        .drop("__nt")
    )


def matching_ids_multi(
    index_df: DataFrame,
    pairs: Sequence[tuple],
    id_cols: Sequence[str] = ("mid", "rid"),
) -> DataFrame:
    """Doc ids matching ALL ``(field, token)`` pairs — the cross-field AND
    intersection, still ONE pruned index scan: filter to the union of the
    pairs, group by id, keep ids that hit every pair."""
    if not pairs:
        raise ValueError("at least one (field, token) pair required")
    cond = None
    for f, t in pairs:
        c = (F.col("field") == F.lit(f)) & (F.col("token") == F.lit(t))
        cond = c if cond is None else (cond | c)
    hits = index_df.filter(cond)
    return (
        hits.groupBy(*[F.col(c) for c in id_cols])
        .agg(F.count_distinct(F.col("field"), F.col("token")).alias("__nt"))
        .filter(F.col("__nt") == F.lit(len(set(pairs))))
        .drop("__nt")
    )


def matching_ids_wildcard(
    index_df: DataFrame,
    field: str,
    prefix: str,
    like_pattern: Optional[str],
    id_cols: Sequence[str] = ("mid", "rid"),
) -> DataFrame:
    """Doc ids with ANY token matching a wildcard — the dictionary-narrowing
    path of `pattern/pattern.go:110-121`: a literal prefix becomes a
    pushable ``startswith`` (parquet min/max pages on the token-sorted index
    skip whole ranges), the full pattern is verified with the LIKE form
    (`compile.wildcard_like` — simplifiable, newline-exact).
    OR-semantics per token → distinct ids."""
    hits = index_df.filter(F.col("field") == F.lit(field))
    if prefix:
        hits = hits.filter(F.col("token").startswith(prefix))
    if like_pattern is not None:
        hits = hits.filter(F.col("token").like(like_pattern))
    return hits.select(*[F.col(c) for c in id_cols]).distinct()


def matching_ids_or(
    index_df: DataFrame,
    leaves: Sequence[tuple],
    id_cols: Sequence[str] = ("mid", "rid"),
) -> DataFrame:
    """Doc ids matching ANY of the leaves — the OR-node posting-list union
    (`node/node_or.go`), e.g. an ``in()`` disjunction. Each leaf is
    ``(field, exact_token_or_None, prefix, like_pattern_or_None)``; one
    pruned index scan, distinct ids."""
    if not leaves:
        raise ValueError("at least one leaf required")
    cond = None
    for fld, token, prefix, like_pattern in leaves:
        c = F.col("field") == F.lit(fld)
        if token is not None:
            c = c & (F.col("token") == F.lit(token))
        else:
            if prefix:
                c = c & F.col("token").startswith(prefix)
            if like_pattern is not None:
                c = c & F.col("token").like(like_pattern)
        cond = c if cond is None else (cond | c)
    return index_df.filter(cond).select(*[F.col(c) for c in id_cols]).distinct()


def search_tokens(
    docs_df: DataFrame,
    index_df: DataFrame,
    field: str,
    tokens: Sequence[str],
    id_cols: Sequence[str] = ("mid", "rid"),
) -> DataFrame:
    """Fetch the documents matching all ``tokens``: semi-join the doc table
    against the id set from the index. The id set is usually tiny next to
    the corpus — exactly the fetch-after-search split of
    `storeapi/grpc_search.go` + `grpc_fetch.go`."""
    ids = matching_ids(index_df, field, tokens, id_cols)
    return docs_df.join(ids, on=list(id_cols), how="left_semi")


class StoreIndex:
    """Inverted index co-partitioned with a :class:`seqspark.store.DocStore`.

    One index directory per store time bucket (``ts_bucket=.../``), mirroring
    the reference's one-index-file-per-sealed-fraction layout
    (`docs/en/internal/format-index-file.md`): sealing/compacting a bucket
    rebuilds exactly that bucket's index, and retention that drops a data
    bucket drops its index with it. Queries read the whole index (or a
    time-pruned slice — ``ts_bucket`` is a partition column there too).
    """

    PARTITION_COL = "ts_bucket"  # same value space as DocStore's

    #: per-bucket hot-token stats live here, underscore-prefixed so Spark's
    #: partition discovery never sees them
    STATS_DIR = "_stats"

    def __init__(self, store, path: str, token_cols: Dict[str, object],
                 id_cols: Sequence[str] = ("mid", "rid"),
                 stats_top_k: int = 4096):
        self.store = store
        self.path = path
        self.token_cols = token_cols
        self.id_cols = tuple(id_cols)
        self.stats_top_k = stats_top_k
        #: cached index frame — parquet partition discovery runs a listing
        #: job per read(), so the frame is built once and invalidated when
        #: refresh()/prune() change the files underneath
        self._frame: Optional[DataFrame] = None
        #: the schema the first read() inferred: the index columns never
        #: change, so later reads pass it and run no inference job
        #: (DocStore.read()'s ``_schema_cache``)
        self._schema = None
        #: memoized merged IndexStats ((value,) once computed) — same
        #: lifecycle as the frame cache
        self._stats_cache: Optional[tuple] = None

    def _bucket_dir(self, bucket: str) -> str:
        return f"{self.path}/{self.PARTITION_COL}={bucket}"

    def _fs(self):
        from .store import _HadoopFS

        return _HadoopFS(self.store.spark, self.path)

    def _owner(self, bucket: str):
        """The store whose copy of ``bucket`` this index must read —
        the owning TIER for a TieredStore (tombstoned buckets belong to
        cold even when a late append re-created them in hot), the store
        itself otherwise."""
        if hasattr(self.store, "owner_store"):
            return self.store.owner_store(bucket)
        return self.store

    def _bucket_sig(self, bucket: str) -> str:
        """Content signature of one STORE bucket: sha256 over the sorted
        (name, length, mtime) of its files — driver-side listing only.
        Recorded with the bucket's stats at build time; a differing live
        signature marks the bucket stale (:meth:`stale_buckets`)."""
        import hashlib as _hashlib

        from .store import PARTITION_COL as STORE_PART, _HadoopFS

        owner = self._owner(bucket)
        sfs = _HadoopFS(self.store.spark, owner.path)
        parts = sorted(
            (s.getPath().getName(), s.getLen(), s.getModificationTime())
            for s in sfs.list_file_status(
                sfs.path(f"{STORE_PART}={bucket}"))
        )
        return _hashlib.sha256(repr(parts).encode()).hexdigest()[:24]

    def _write_bucket_stats(self, fs, bucket: str, idx: DataFrame) -> None:
        """Persist this bucket's hot-token doc frequencies + doc count at
        build time, so attaching the index later is a metadata read, not a
        full-index aggregation (VERDICT r6 #6). The doc count comes from
        the store's parquet footers — no Spark job; the groupBy runs over
        the ONE bucket that was just rebuilt anyway."""
        import json as _json

        total = self.store.bucket_row_count(bucket)
        s = collect_index_stats(idx, total, self.stats_top_k)
        truncated = len(s.df) == self.stats_top_k
        payload = {
            "total_docs": total,
            "top_k": self.stats_top_k,
            "floor_count": min(s.df.values()) if truncated and s.df else 0,
            "df": [[f, t, n] for (f, t), n in s.df.items()],
            # store-content signature at build time → incremental refresh
            "sig": self._bucket_sig(bucket),
        }
        fs.write_text(
            fs.path(self.STATS_DIR, f"{bucket}.json"), _json.dumps(payload)
        )

    def load_stats(self) -> Optional[IndexStats]:
        """Merge the persisted per-bucket stats into one :class:`IndexStats`
        WITHOUT touching the index data (driver-side metadata reads only).

        Merged doc frequencies are upper bounds: a pair listed in some
        buckets may also hide below other buckets' truncation floors, so
        those floors are added — conservative in the safe direction
        (overestimating df can only route a borderline token to the scan,
        never miss-route a hot token through the index). Returns None when
        any live bucket lacks a stats file (stale/older index) — callers
        fall back to live collection."""
        import json as _json

        fs = self._fs()
        live = self.store.partitions()
        per_bucket = []
        for b in live:
            raw = fs.read_text(fs.path(self.STATS_DIR, f"{b}.json"))
            if raw is None:
                return None
            per_bucket.append(_json.loads(raw))
        total = sum(p["total_docs"] for p in per_bucket)
        listed: Dict[Tuple[str, str], int] = {}
        bucket_pairs = []
        for p in per_bucket:
            pairs = {(f, t) for f, t, _ in p["df"]}
            bucket_pairs.append(pairs)
            for f, t, n in p["df"]:
                listed[(f, t)] = listed.get((f, t), 0) + n
        merged: Dict[Tuple[str, str], int] = {}
        for pair, n in listed.items():
            ub = n
            for p, pairs in zip(per_bucket, bucket_pairs):
                if p["floor_count"] and pair not in pairs:
                    ub += p["floor_count"]
            merged[pair] = ub
        floor_total = sum(p["floor_count"] for p in per_bucket)
        return IndexStats(
            total_docs=total,
            df=merged,
            floor=floor_total / max(1, total),
        )

    def refresh(self, buckets: Optional[Sequence[str]] = None) -> List[str]:
        """(Re)build the index for the given store buckets (default: all).
        Call after append/compact for the touched buckets — the seal-time
        index build of `frac/active_sealer.go`. Each rebuilt bucket also
        persists its hot-token stats (see :meth:`load_stats`).

        The store write lock is held PER BUCKET (inside the loop), so a
        full-corpus refresh blocks appends only for one bucket's rebuild
        at a time — ingest interleaves between buckets; it never waits
        for the whole refresh."""
        done: List[str] = []
        from .store import PARTITION_COL as STORE_PART, _write_lock

        fs = self._fs()
        for bucket in buckets if buckets is not None else self.store.partitions():
            # under the store's per-path write lock: a compact swapping
            # the bucket directory mid-read would fail the rebuild, and an
            # append landing a file after this read would leave the index
            # PERMANENTLY missing those docs — and a routed index is
            # authoritative (left_semi drops what it doesn't list)
            owner = self._owner(bucket)
            with _write_lock(owner.path):
                part = f"{owner.path}/{STORE_PART}={bucket}"
                df = self.store.spark.read.parquet(part)
                idx = build_inverted_index(df, self.token_cols, self.id_cols)
                (
                    idx.repartition("field")
                    .sortWithinPartitions("token")
                    .write.mode("overwrite")
                    .parquet(self._bucket_dir(bucket))
                )
                self._write_bucket_stats(fs, bucket, idx)
            done.append(bucket)
        self._frame = None
        self._stats_cache = None
        return done

    def stale_buckets(self) -> List[str]:
        """Store buckets whose index build is missing or no longer
        matches the store's files — the incremental-refresh work list
        (r16): a maintenance pass then rebuilds ONLY what changed, so
        the seal-time cadence costs O(appended buckets), not a
        full-index rebuild per pass. Driver-side metadata reads only
        (stats JSON + one listing per bucket; no Spark jobs). Buckets
        indexed before signatures existed report stale ONCE and are
        re-signed by the rebuild."""
        import json as _json

        fs = self._fs()
        out: List[str] = []
        for b in self.store.partitions():
            raw = fs.read_text(fs.path(self.STATS_DIR, f"{b}.json"))
            if raw is None:
                out.append(b)
                continue
            try:
                sig = _json.loads(raw).get("sig")
            except ValueError:
                sig = None
            if sig is None or sig != self._bucket_sig(b):
                out.append(b)
        return out

    def refresh_stale(self) -> List[str]:
        """Incremental :meth:`refresh`: rebuild only
        :meth:`stale_buckets` (plus :meth:`prune` of dead ones)."""
        stale = self.stale_buckets()
        done = self.refresh(stale) if stale else []
        self.prune()
        return done

    def prune(self) -> List[str]:
        """Drop index buckets (and their stats) whose data bucket was
        retained away."""
        fs = self._fs()
        live = set(self.store.partitions())
        dropped: List[str] = []
        for p in fs.list_dirs(fs.path()):
            name = p.getName()
            if name.startswith(f"{self.PARTITION_COL}="):
                bucket = name.split("=", 1)[1]
                if bucket not in live:
                    fs.delete(p)
                    fs.delete(fs.path(self.STATS_DIR, f"{bucket}.json"))
                    dropped.append(bucket)
        if dropped:
            self._frame = None
            self._stats_cache = None
        return dropped

    def read(self) -> DataFrame:
        if self._frame is None:
            reader = self.store.spark.read
            if self._schema is not None:
                reader = reader.schema(self._schema)
            self._frame = reader.parquet(self.path)
            self._schema = self._frame.schema
        return self._frame

    def search(self, field: str, tokens: Sequence[str]) -> DataFrame:
        return search_tokens(
            self.store.read(), self.read(), field, tokens, self.id_cols
        )

    def attach_to(
        self,
        table,
        total_docs: Optional[int] = None,
        top_k: int = 4096,
        max_selectivity: float = 0.1,
        broadcast_max_docs: int = 200_000,
        two_phase_min_doc_bytes: Optional[int] = None,
    ):
        """Attach this index to a :class:`~seqspark.engine.SearchTable`
        with selectivity routing. Stats come from the per-bucket metadata
        persisted at :meth:`refresh` time — NO Spark job runs here; only
        when a live bucket predates the stats files (or ``total_docs`` /
        ``top_k`` force a live collection) does it fall back to the
        TakeOrdered aggregation over the index. The merged stats are
        memoized alongside the frame (a server attaches per request;
        re-reading every bucket's stats JSON each time is pure waste) and
        invalidated when :meth:`refresh`/:meth:`prune` change the files.
        ``two_phase_min_doc_bytes`` forwards to
        :meth:`~seqspark.engine.SearchTable.attach_index` — width-aware
        search→fetch routing. Returns the table for chaining.

        An index that has never been refreshed (no data on disk yet —
        e.g. a server starting against an empty store) attaches NOTHING
        and returns the table as-is: there are no postings to
        accelerate with, and reading the absent parquet path would fail
        every search until the first refresh (caught by the r16 indexed
        soak)."""
        fs = self._fs()
        if not fs.exists(fs.path()) or not any(
            p.getName().startswith(f"{self.PARTITION_COL}=")
            for p in fs.list_dirs(fs.path())
        ):
            return table
        idx = self.read()
        stats = None
        if total_docs is None:
            if self._stats_cache is None:
                self._stats_cache = (self.load_stats(),)
            stats = self._stats_cache[0]
        if stats is None:
            total = (
                total_docs
                if total_docs is not None
                else self.store.read().count()
            )
            stats = collect_index_stats(idx, total, top_k)
            if total_docs is None:
                self._stats_cache = (stats,)
        return table.attach_index(
            idx,
            list(self.token_cols),
            self.id_cols,
            stats=stats,
            max_selectivity=max_selectivity,
            broadcast_max_docs=broadcast_max_docs,
            two_phase_min_doc_bytes=two_phase_min_doc_bytes,
        )
