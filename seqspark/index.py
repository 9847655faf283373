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

import uuid
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

    Like the store, the index is a versioned manifest over immutable files
    (:class:`~seqspark.store.Manifest`); each version also records, per
    bucket, the store files that bucket was built from, so whether the
    index covers a store snapshot is a comparison of two manifests.
    """

    PARTITION_COL = "ts_bucket"  # same value space as DocStore's

    def __init__(self, store, path: str, token_cols: Dict[str, object],
                 id_cols: Sequence[str] = ("mid", "rid"),
                 stats_top_k: int = 4096):
        from .store import _open_log

        self.store = store
        self.path = path
        self.token_cols = token_cols
        self.id_cols = tuple(id_cols)
        self.stats_top_k = stats_top_k
        self._log = _open_log(store.spark, path)
        self._fs = self._log.fs
        #: merged IndexStats of one version: (version, stats or None)
        self._stats_cache: Optional[tuple] = None

    def manifest(self):
        """The newest committed index version (unheld)."""
        return self._log.current()

    def pin(self) -> tuple:
        """The newest version and the release of its hold: its files
        outlive a refresh that replaces them until released."""
        return self._log.pin()

    def _write_bucket_stats(self, bucket: str, idx: DataFrame,
                            total: int) -> str:
        """Persist this bucket's hot-token doc frequencies + doc count at
        build time, so attaching the index later is a metadata read, not a
        full-index aggregation (VERDICT r6 #6). The doc count comes from
        the store manifest — no Spark job; the groupBy runs over the ONE
        bucket that was just rebuilt anyway. Returns the file's name, new
        per build: the version that commits the build names it."""
        import json as _json

        from .store import STATS_DIR

        s = collect_index_stats(idx, total, self.stats_top_k)
        truncated = len(s.df) == self.stats_top_k
        payload = {
            "total_docs": total,
            "top_k": self.stats_top_k,
            "floor_count": min(s.df.values()) if truncated and s.df else 0,
            "df": [[f, t, n] for (f, t), n in s.df.items()],
        }
        name = f"{bucket}-{uuid.uuid4().hex}.json"
        self._fs.write_text(self._fs.path(STATS_DIR, name),
                            _json.dumps(payload))
        return name

    def load_stats(self, manifest=None) -> Optional[IndexStats]:
        """Merge the persisted per-bucket stats of an index version (the
        newest by default) into one :class:`IndexStats` WITHOUT touching
        the index data (driver-side metadata reads only).

        Merged doc frequencies are upper bounds: a pair listed in some
        buckets may also hide below other buckets' truncation floors, so
        those floors are added — conservative in the safe direction
        (overestimating df can only route a borderline token to the scan,
        never miss-route a hot token through the index). Returns None when
        any bucket lacks a stats file (an older index) — callers fall back
        to live collection."""
        import json as _json

        from .store import STATS_DIR

        m = manifest or self.manifest()
        per_bucket = []
        for b in sorted(m.buckets):
            raw = b in m.stats and self._fs.read_text(
                self._fs.path(STATS_DIR, m.stats[b]))
            if not raw:
                return None
            per_bucket.append(_json.loads(raw))
        merged: Dict[Tuple[str, str], int] = {}
        for p in per_bucket:
            for f, t, n in p["df"]:
                merged[(f, t)] = merged.get((f, t), 0) + n
        for p in per_bucket:  # hidden below this bucket's floor, at most
            if p["floor_count"]:
                for pair in merged.keys() - {(f, t) for f, t, _ in p["df"]}:
                    merged[pair] += p["floor_count"]
        total = sum(p["total_docs"] for p in per_bucket)
        floor_total = sum(p["floor_count"] for p in per_bucket)
        return IndexStats(total_docs=total, df=merged,
                          floor=floor_total / max(1, total))

    def refresh(self, buckets: Optional[Sequence[str]] = None) -> List[str]:
        """(Re)build the index for the given store buckets (default: all).
        Call after append/compact for the touched buckets — the seal-time
        index build of `frac/active_sealer.go`. Each rebuilt bucket also
        persists its hot-token stats (see :meth:`load_stats`)."""
        with self.store.snapshot() as snap:
            return self._rebuild(
                snap, snap.buckets if buckets is None else buckets, ())

    @staticmethod
    def _stale(snap, m) -> List[str]:
        return [b for b in snap.buckets
                if m.built_from.get(b) != snap.files[b]]

    def stale_buckets(self) -> List[str]:
        """Store buckets whose index is missing or was built from other
        files than the store now lists — the incremental-refresh work list
        (r16): a maintenance pass then rebuilds ONLY what changed, so the
        seal-time cadence costs O(appended buckets), not a full-index
        rebuild per pass. Two manifest reads; no listing, no Spark job."""
        with self.store.snapshot() as snap:
            return self._stale(snap, self.manifest())

    def refresh_stale(self) -> List[str]:
        """Incremental :meth:`refresh`: rebuild only :meth:`stale_buckets`
        and drop the buckets the store no longer has, as one version. The
        process's first call also sweeps what a crashed refresh left."""
        self._log.sweep()
        with self.store.snapshot() as snap:
            m = self.manifest()
            dead = [b for b in m.buckets if b not in snap.files]
            return self._rebuild(snap, self._stale(snap, m), dead)

    def prune(self) -> List[str]:
        """Drop index buckets (and their stats) whose data bucket was
        retained away."""
        with self.store.snapshot() as snap:
            dead = [b for b in self.manifest().buckets
                    if b not in snap.files]
            self._rebuild(snap, (), dead)
        return dead

    def _rebuild(self, snap, buckets: Sequence[str],
                 dead: Sequence[str]) -> List[str]:
        """Index ``buckets`` from exactly ``snap``'s files, and commit them
        together with dropping the ``dead`` buckets as one version. The
        held snapshot keeps the files it reads; an append meanwhile just
        leaves the bucket stale for the next pass."""
        from .store import _place, _widened

        if snap.partial:
            raise RuntimeError(
                "index refresh needs the full store: cold tier unreachable")
        built, sources, stats, fields = {}, {}, {}, []

        def keep(old: dict, new: dict) -> dict:
            return {**{b: v for b, v in old.items() if b not in dead}, **new}

        with self._log.write_lock, self._fs.staging() as staged:
            for b in buckets:
                idx = build_inverted_index(
                    snap.frame([b]), self.token_cols, self.id_cols)
                out = self._fs._Path(staged, b)
                idx.repartition("field").sortWithinPartitions(
                    "token").write.parquet(out.toString())
                built[b] = _place(self._fs, out, b)
                sources[b] = snap.files[b]
                fields = idx.schema.fields
                stats[b] = self._write_bucket_stats(
                    b, idx, snap.owners[b][1].rows(b))
            if built or dead:
                self._log.commit(lambda m: m.next(
                    schema=_widened(m.schema, fields) if fields else m.schema,
                    buckets=keep(m.buckets, built),
                    built_from=keep(m.built_from, sources),
                    stats=keep(m.stats, stats)))
        return list(built)

    def frame(self, manifest) -> DataFrame:
        """The index rows of one version: exactly its files."""
        return manifest.frame(self.store.spark, self.path,
                              sorted(manifest.buckets))

    def read(self) -> DataFrame:
        return self.frame(self.manifest())

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
        manifest=None,
    ):
        """Attach this index (the version ``manifest``, default the
        newest) to a :class:`~seqspark.engine.SearchTable` with
        selectivity routing. Stats come from the per-bucket metadata
        persisted at :meth:`refresh` time — NO Spark job runs here; only
        when a bucket predates the stats files (or ``total_docs`` /
        ``top_k`` force a live collection) does it fall back to the
        TakeOrdered aggregation over the index. The merged stats are
        memoized per version (a server attaches per table build;
        re-reading every bucket's stats JSON each time is pure waste).
        ``two_phase_min_doc_bytes`` forwards to
        :meth:`~seqspark.engine.SearchTable.attach_index` — width-aware
        search→fetch routing. Returns the table for chaining.

        An index with no bucket yet (e.g. a server starting against an
        empty store) attaches NOTHING and returns the table as-is: there
        are no postings to accelerate with."""
        m = manifest or self.manifest()
        if not m.buckets:
            return table
        idx = self.frame(m)
        stats = None
        if total_docs is None:
            cached = self._stats_cache
            if cached is None or cached[0] != m.version:
                cached = self._stats_cache = (m.version, self.load_stats(m))
            stats = cached[1]
        if stats is None:
            total = (
                total_docs
                if total_docs is not None
                else self.store.read().count()
            )
            stats = collect_index_stats(idx, total, top_k)
            if total_docs is None:
                self._stats_cache = (m.version, stats)
        return table.attach_index(
            idx,
            list(self.token_cols),
            self.id_cols,
            stats=stats,
            max_selectivity=max_selectivity,
            broadcast_max_docs=broadcast_max_docs,
            two_phase_min_doc_bytes=two_phase_min_doc_bytes,
        )
