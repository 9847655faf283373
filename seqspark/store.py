"""Time-partitioned parquet document store.

Spark-first replacement for the reference's fraction files
(`docs/en/internal/fractions.md`, `fracmanager/fracmanager.go`):

- *active fraction / sealing*  → micro-batch parquet appends + a compaction
  job (`compact`) that rewrites small files per partition
  (`fracmanager/fracmanager.go:344-385` seal);
- *rotation / retention*       → oldest time-partition deletes when the
  store exceeds a byte budget or an age bound
  (`fracmanager/fracmanager.go:106-148`);
- *time pruning at search*     → the `ts_bucket` partition column lets any
  `from`/`to` window prune whole directories before a single row is read —
  the 100 TB path: a 1h query over a month of data touches 1/720 of files.

The store is a versioned MANIFEST over immutable files (SURVEY §7.0:
"plain Parquet + manifest"): ``_manifest/<version>.json`` lists every live
file per bucket with its bytes and row count, plus the store schema. A
reader takes the newest version and reads exactly its files; a writer
stages new files under ``_staging/``, moves them into ``ts_bucket=…/``
under new names and commits the next version. No write renames or
overwrites a live file, and a file a version dropped is deleted only once
no snapshot in this process holds a version that still lists it. Reading
the directory with a plain ``spark.read.parquet(path)`` is unsupported: it
would see staged-away and superseded files.

All filesystem operations go through the Hadoop FileSystem API (via the
Spark JVM gateway), so the store works identically on local disk, HDFS and
S3/GCS object stores — where a 100 TB store actually lives. The one
``os.*`` use is the ``flock`` on ``_staging/`` that tells a crash sweep
on local disk whether a write is in flight.
"""

from __future__ import annotations

import fcntl
import functools
import json
import logging
import os
import threading
import uuid
from contextlib import contextmanager
from collections import Counter
from dataclasses import asdict, dataclass, field, replace
from typing import Callable, Optional, Sequence

logger = logging.getLogger(__name__)

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType
from py4j.protocol import Py4JJavaError

PARTITION_COL = "ts_bucket"

#: the document-store schema, for the empty-store read (matches what
#: ingest_docs + the partitioned write produce, partition column last)
EMPTY_DOC_SCHEMA = (
    "mid bigint, rid bigint, ts timestamp, raw string, size int, "
    "tokens map<string,array<string>>, ts_bucket string"
)

#: committed versions, ``<version>.json`` each (underscore prefix: never a
#: partition)
MANIFEST_DIR = "_manifest"

#: files a write has not committed yet (:meth:`_HadoopFS.staging`): a
#: crash leaves them here, and the sweep removes them
STAGING_DIR = "_staging"

#: an index version's per-bucket hot-token stats files, named per build
STATS_DIR = "_stats"

#: per-store-path write locks, shared by every DocStore instance in this
#: process (a server and a streaming ingest may each hold their own
#: instance over ONE path). Serializes this process's commits to a path:
#: each reads the newest version and writes the next. Other processes may
#: append; their commit races are settled by create-if-absent on the
#: version file. Maintenance (compaction, retention, the sweep) runs only
#: in the process that serves the store.
_WRITE_LOCKS_GUARD = threading.Lock()
_WRITE_LOCKS: dict = {}


def _store_key(path: str) -> str:
    # URI paths (s3a://, hdfs://) must NOT go through os.path.abspath —
    # it would join them onto the cwd, and a cwd change between lookups
    # would hand the same store two different locks, silently losing the
    # append-vs-compact serialization. Local paths are normalized so two
    # spellings of one directory share a lock.
    return path.rstrip("/") if "://" in path else os.path.abspath(path)


def _write_lock(path: str) -> "threading.RLock":
    key = _store_key(path)
    with _WRITE_LOCKS_GUARD:
        lock = _WRITE_LOCKS.get(key)
        if lock is None:
            lock = _WRITE_LOCKS[key] = threading.RLock()
        return lock


#: store metadata (bucket_fmt + writing timezone), underscore-prefixed so
#: partition discovery ignores it
META_FILE = "_store_meta.json"

#: bucket formats whose date_format output is zero-padded and ordered
#: most-significant-field-first, so LEXICOGRAPHIC compare on bucket labels
#: equals chronological compare — the property every partition-prune bound
#: in the engine relies on. A format like ``yyyy-M-d`` would sort
#: "2024-10-1" < "2024-2-1" and silently drop matching buckets.
MONOTONE_BUCKET_FMTS = ("yyyy", "yyyy-MM", "yyyy-MM-dd", "yyyy-MM-dd-HH")


#: reentrancy state for _int64_timestamps, keyed per SparkSession: the
#: conf is SESSION-global, so two concurrent appends (different stores,
#: one session — e.g. a server bulk racing a streaming micro-batch) must
#: not let the first exit restore INT96 while the second's write job is
#: still running (that would silently write stat-less INT96 files and
#: lose ts pushdown on them).
_TS_GUARD_LOCK = threading.Lock()
_TS_GUARD: dict = {}  # id(spark) -> [depth, saved_value]


@contextmanager
def _int64_timestamps(spark: SparkSession):
    """Write timestamps as INT64 TIMESTAMP_MICROS for the duration.

    Spark's default parquet timestamp encoding is the legacy INT96, which
    carries NO row-group min/max statistics and supports no filter
    pushdown — with it, a pushed ``ts >= X`` predicate reads every row
    group of every file no matter how tight the window. INT64 micros gets
    both stats and pushdown, which is the entire point of ts-clustered
    row groups (VERDICT r6 #1). Reentrant across threads of one session:
    only the outermost enter saves/sets and only the outermost exit
    restores."""
    key = "spark.sql.parquet.outputTimestampType"
    sid = id(spark)
    with _TS_GUARD_LOCK:
        state = _TS_GUARD.get(sid)
        if state is None:
            # save + set BEFORE recording state: if the set raises, no
            # dead depth-0 entry is left to make later appends skip the
            # set and silently write INT96
            saved = spark.conf.get(key)
            spark.conf.set(key, "TIMESTAMP_MICROS")
            state = _TS_GUARD[sid] = [0, saved]
        state[0] += 1
    try:
        yield
    finally:
        with _TS_GUARD_LOCK:
            state[0] -= 1
            if state[0] == 0:
                del _TS_GUARD[sid]
                spark.conf.set(key, state[1])


class _HadoopFS:
    """Thin wrapper over org.apache.hadoop.fs.FileSystem for one base path."""

    def __init__(self, spark: SparkSession, base: str):
        self._jvm = spark._jvm
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = self._jvm.org.apache.hadoop.fs.Path
        self._base = self._Path(base)
        self._fs = self._base.getFileSystem(self._conf)

    def path(self, *parts: str):
        p = self._base
        for part in parts:
            p = self._Path(p, part)
        return p

    def exists(self, p) -> bool:
        return self._fs.exists(p)

    def list_dirs(self, p) -> list:
        if not self._fs.exists(p):
            return []
        return [s.getPath() for s in self._fs.listStatus(p) if s.isDirectory()]

    def list_files(self, p) -> list:
        """FileStatus of the plain files under ``p`` (non-recursive;
        underscore-prefixed markers like _SUCCESS skipped)."""
        if not self._fs.exists(p):
            return []
        return [
            s for s in self._fs.listStatus(p)
            if s.isFile() and not s.getPath().getName().startswith("_")
        ]

    def delete(self, p, recursive: bool = True) -> None:
        try:
            self._fs.delete(p, recursive)
        except Py4JJavaError:  # a directory that is not empty
            if recursive:
                raise

    def rename(self, src, dst) -> bool:
        return self._fs.rename(src, dst)

    def mkdirs(self, p) -> None:
        self._fs.mkdirs(p)

    def write_text(self, p, text: str) -> None:
        out = self._fs.create(p, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, p) -> Optional[str]:
        if not self._fs.exists(p):
            return None
        stream = self._fs.open(p)
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()

    @contextmanager
    def staging(self):
        """A fresh directory under ``_staging/`` for one write (its files
        before they move into a bucket, its version before the commit),
        deleted on exit. The write holds a shared flock on ``_staging/``
        meanwhile, so a sweep that gets it exclusively knows no writer in
        any process is between staging and commit (:meth:`_Log.sweep`)."""
        fd = self.flock_staging(fcntl.LOCK_SH)
        d = self.path(STAGING_DIR, uuid.uuid4().hex)
        try:
            yield d
        finally:
            self.delete(d)
            if fd is not None:
                os.close(fd)

    def flock_staging(self, how: int) -> Optional[int]:
        """An fd holding ``_staging/`` flock-ed ``how``, or None: off local
        disk, where no writer's liveness can be told, or when a
        non-blocking ``how`` finds it held."""
        if self._fs.getUri().getScheme() != "file":
            return None
        p = self.path(STAGING_DIR)
        self.mkdirs(p)
        fd = os.open(self._fs.makeQualified(p).toUri().getPath(), os.O_RDONLY)
        try:
            fcntl.flock(fd, how)
            return fd
        except BlockingIOError:
            os.close(fd)
            return None

    def create_new(self, p, text: str) -> bool:
        """Create ``p`` holding ``text`` unless it exists (False then),
        atomically: written in full under :meth:`staging`, then
        hard-linked into place on local disk (link(2) refuses an existing
        name) or renamed elsewhere (an HDFS rename onto a path fails)."""
        with self.staging() as d:
            tmp = self._Path(d, "version.json")
            self.write_text(tmp, text)
            self.mkdirs(p.getParent())
            try:
                if self._fs.getUri().getScheme() != "file":
                    return self._fs.rename(tmp, p)
                nio = self._jvm.java.nio.file
                nio.Files.createLink(
                    nio.Paths.get(self._fs.makeQualified(p).toUri()),
                    nio.Paths.get(self._fs.makeQualified(tmp).toUri()))
                return True
            except Py4JJavaError as e:
                if e.java_exception.getClass().getSimpleName() != (
                        "FileAlreadyExistsException"):
                    raise
                return False

    @functools.cached_property
    def _footer_reader(self) -> tuple:
        # resolved once: each package step of a py4j class path is a JVM
        # round trip
        pq = self._jvm.org.apache.parquet
        return (pq.hadoop.ParquetFileReader,
                pq.format.converter.ParquetMetadataConverter.NO_FILTER)

    def entry(self, status) -> list:
        """A file's manifest entry, ``[bytes, rows]``: the row count is
        read once from the parquet footer, when the file is committed
        (on a 4-core host ``readFooter`` took ~1.5 ms a file, a reader
        ``open`` ~12 ms)."""
        reader, no_filter = self._footer_reader
        blocks = reader.readFooter(self._conf, status, no_filter).getBlocks()
        return [status.getLen(), sum(blocks.get(i).getRowCount()
                                     for i in range(blocks.size()))]

    def file_entry(self, path: str) -> list:
        """:meth:`entry` of the file at ``path``, on this filesystem."""
        return self.entry(self._fs.getFileStatus(self._Path(path)))


@dataclass(frozen=True, eq=False)
class Manifest:
    """One committed version of a store (or a :class:`~seqspark.index.
    StoreIndex`): every live file per bucket, ``{bucket: {name: [bytes,
    rows]}}``, and the schema to read them with (StructType JSON, None
    before the first write). A hot tier's manifest also holds the
    rotation tombstones (:class:`TieredStore`); an index manifest holds,
    per bucket, the store files the bucket was built from and the name of
    its stats file under ``_stats/``."""

    version: int = -1
    schema: Optional[str] = None
    buckets: dict = field(default_factory=dict)
    rotated: list = field(default_factory=list)
    built_from: dict = field(default_factory=dict)
    stats: dict = field(default_factory=dict)

    def next(self, **changes) -> "Manifest":
        return replace(self, version=self.version + 1, **changes)

    def paths(self) -> set:
        """Every file this version names, relative to its root."""
        return ({f"{PARTITION_COL}={b}/{n}"
                 for b, names in self.buckets.items() for n in names}
                | {f"{STATS_DIR}/{n}" for n in self.stats.values()})

    def rows(self, bucket: str) -> int:
        return sum(r for _, r in self.buckets.get(bucket, {}).values())

    def size(self, bucket: str) -> int:
        return sum(n for n, _ in self.buckets.get(bucket, {}).values())

    def frame(self, spark: SparkSession, root: str,
              buckets: Sequence[str]) -> DataFrame:
        """The rows of ``buckets``: exactly their listed files, read with
        the listed schema (no footer inference, no directory listing)."""
        paths = [f"{root}/{PARTITION_COL}={b}/{n}"
                 for b in buckets for n in self.buckets.get(b, ())]
        if not paths:
            return spark.createDataFrame([], EMPTY_DOC_SCHEMA)
        return (spark.read.schema(StructType.fromJson(json.loads(
            self.schema))).option("basePath", root).parquet(*paths))


def _widened(schema: Optional[str], fields) -> str:
    """``schema`` plus any column of ``fields`` it lacks, the partition
    column last as the partitioned write lays it out: an append can bring
    passthrough columns, and a read with the old schema would drop
    them."""
    have = StructType.fromJson(json.loads(schema)).fields if schema else []
    names = {f.name for f in have} | {PARTITION_COL}
    have = [f for f in have if f.name != PARTITION_COL]
    return StructType(have + [f for f in fields if f.name not in names]
                      + [StructField(PARTITION_COL, StringType())]).json()


class _Log:
    """The versions of one root (a store tier or an index), shared by
    every instance over the root in this process: the newest manifest,
    how many open snapshots hold each version, and the files waiting for
    those holds to go (``pending``: the version that dropped them, their
    paths relative to the root)."""

    def __init__(self, fs: _HadoopFS, write_lock):
        self.fs = fs
        self.write_lock = write_lock
        self.lock = threading.Lock()
        self.newest = Manifest()
        self.listed: list = []
        self.holds: Counter = Counter()
        self.pending: list = []
        self.swept = False

    def current(self) -> Manifest:
        """The newest committed version: one LIST of ``_manifest/``, and
        a GET only when the version is new to this process."""
        self.listed = sorted(
            int(s.getPath().getName()[:-5])
            for s in self.fs.list_files(self.fs.path(MANIFEST_DIR)))
        if not self.listed:  # never written, or deleted and re-created
            self.newest = Manifest()
        elif self.listed[-1] != self.newest.version:
            text = self.fs.read_text(
                self.fs.path(MANIFEST_DIR, f"{self.listed[-1]}.json"))
            if text is None:  # a newer commit dropped it meanwhile
                return self.current()
            self.newest = Manifest(**json.loads(text))
        return self.newest

    def pin(self) -> tuple:
        """The newest version and the release of its hold (call once)."""
        with self.lock:
            m = self.current()
            self.holds[m.version] += 1
        return m, functools.partial(self._release, m.version)

    def _release(self, version: int) -> None:
        with self.lock:
            self.holds[version] -= 1
            if not self.holds[version]:
                del self.holds[version]
            gone = self._due()
        self._delete(gone)

    def commit(self, change: Callable[[Manifest], Manifest]) -> Manifest:
        """Write ``change(newest)`` as the next version; losing the
        version to another process's commit re-applies ``change`` to
        theirs. The files the new version drops, and the older version
        files, are deleted once no snapshot holds a version that lists
        them. Callers hold ``write_lock``."""
        base = self.current()
        while True:
            listed, new = self.listed, change(base)
            if self.fs.create_new(
                    self.fs.path(MANIFEST_DIR, f"{new.version}.json"),
                    json.dumps(asdict(new), sort_keys=True)):
                break
            base = self.current()
            if base.version < new.version:
                raise IOError(f"version {new.version} exists but is unreadable")
        with self.lock:
            self.newest = max(self.newest, new, key=lambda m: m.version)
            self.pending.append((new.version, sorted(
                base.paths() - new.paths()) + [
                    f"{MANIFEST_DIR}/{v}.json" for v in listed]))
            gone = self._due()
        self._delete(gone)
        return new

    def _due(self) -> list:
        """Take the pending files no held version lists (under ``lock``),
        and the directories of the buckets among them that the newest
        version no longer has."""
        floor = min(self.holds, default=float("inf"))
        gone = [p for v, ps in self.pending if v <= floor for p in ps]
        self.pending = [(v, ps) for v, ps in self.pending if v > floor]
        dirs = {r.partition("/")[0] for r in gone
                if r.startswith(PARTITION_COL)}
        return gone + [d for d in dirs
                       if d.partition("=")[2] not in self.newest.buckets]

    def _delete(self, rels: list) -> None:
        """Delete files, then directories that are empty by now (a
        directory an append filled again meanwhile stays)."""
        for rel in rels:
            self.fs.delete(self.fs.path(rel), recursive=False)

    def sweep(self) -> None:
        """Remove what crashed writers left: everything under
        ``_staging/``, files under ``ts_bucket=*/`` that neither the
        newest version nor a pending delete names, the empty directories
        of buckets the newest version lacks, and version files below
        every held one. Nothing else under the root is touched. It runs
        only while no writer in any process holds ``_staging/`` (a write
        in flight is not a crash): a pass that finds one there leaves the
        sweep to the next. Off local disk, where that cannot be told, it
        never runs. Called by each maintenance pass of the process
        serving the root; sweeps once."""
        with self.write_lock:
            fd = None if self.swept else self.fs.flock_staging(
                fcntl.LOCK_EX | fcntl.LOCK_NB)
            if fd is None:
                return
            try:
                self.swept = True
                with self.lock:
                    m = self.current()
                    named = m.paths().union(*(ps for _, ps in self.pending))
                    old = [v for v in self.listed
                           if v < min(self.holds, default=m.version)]
                for d in self.fs.list_dirs(self.fs.path(STAGING_DIR)):
                    self.fs.delete(d)
                for d in self.fs.list_dirs(self.fs.path()):
                    if not d.getName().startswith(f"{PARTITION_COL}="):
                        continue
                    for s in self.fs.list_files(d):
                        if f"{d.getName()}/{s.getPath().getName()}" not in named:
                            self.fs.delete(s.getPath())
                    if d.getName().partition("=")[2] not in m.buckets:
                        self.fs.delete(d, recursive=False)
                for v in old:
                    self.fs.delete(self.fs.path(MANIFEST_DIR, f"{v}.json"))
            finally:
                os.close(fd)


#: one _Log per root path in this process (keyed like the write locks)
_LOGS_GUARD = threading.Lock()
_LOGS: dict = {}


#: a hot tier's tombstone file from before manifests, folded into version 0
_LEGACY_ROTATED = "_rotated_buckets.json"


def _open_log(spark: SparkSession, path: str) -> _Log:
    """The root's shared :class:`_Log`. A root written before manifests
    existed (bucket directories, no ``_manifest/``) is listed once and
    committed as version 0 under the write lock, with the tombstones of a
    legacy ``_rotated_buckets.json`` folded in."""
    key = _store_key(path)
    with _LOGS_GUARD:
        log = _LOGS.get(key) or _LOGS.setdefault(
            key, _Log(_HadoopFS(spark, path), _write_lock(path)))
    fs = log.fs
    with log.write_lock:
        if log.current().version >= 0:
            return log
        buckets = {
            d.getName().partition("=")[2]: {
                s.getPath().getName(): fs.entry(s) for s in fs.list_files(d)}
            for d in fs.list_dirs(fs.path())
            if d.getName().startswith(f"{PARTITION_COL}=")
        }
        raw = fs.read_text(fs.path(_LEGACY_ROTATED))
        if buckets or raw:
            files = [f"{path}/{PARTITION_COL}={b}/{n}"
                     for b, names in buckets.items() for n in names]
            schema = files and _widened(None, spark.read.option(
                "basePath", path).parquet(*files).schema.fields)
            log.commit(lambda m: m.next(schema=schema or None, buckets=buckets,
                                        rotated=json.loads(raw or "[]")))
            fs.delete(fs.path(_LEGACY_ROTATED))
    return log


def _place(fs: _HadoopFS, staged, bucket: str) -> dict:
    """Move the files a write staged under ``staged`` into ``bucket``'s
    directory (their names are unique per write job, so nothing live is
    replaced); returns their manifest entries. A bucket directory the
    serving process removed as empty meanwhile is made again."""
    fs.mkdirs(fs.path(f"{PARTITION_COL}={bucket}"))
    out = {}
    for s in fs.list_files(staged):
        name = s.getPath().getName()
        out[name] = fs.entry(s)
        dst = fs.path(f"{PARTITION_COL}={bucket}", name)
        while not fs.rename(s.getPath(), dst):
            if fs.exists(dst.getParent()):
                raise IOError(f"could not move {s.getPath()} into {bucket}")
            fs.mkdirs(dst.getParent())
    return out


class TooManyFractionsHit(ValueError):
    """A query's time window overlaps more store partitions than the
    configured limit (`consts.ErrTooManyFractionsHit`,
    `fracmanager/searcher.go:88-97` prepareFracs) — the guard that stops
    an unbounded time range from fanning a search over the whole store."""


@dataclass(frozen=True)
class StoreSnapshot:
    """The store state one request reads, fixed when the request starts —
    seq-db picks a search's sealed fraction list once per request
    (`fracmanager/searcher.go:88-97`). Everything store-dependent a
    request serves (fraction admission, the memoized table, the
    PARTIAL_RESPONSE flag) derives from ONE snapshot:

    - ``key``: the manifest version(s) it reads plus ``partial``. Equal
      keys mean equal serving state, so a table built from one snapshot
      serves any request whose snapshot has the same key. A version is
      on disk, so an append committed by another process moves it too;
    - ``owners``: per owned bucket, the tier and version it is read from;
    - ``partial``: the cold tier's manifest could not be read, so
      :meth:`read` serves the hot window only.

    The snapshot holds its versions until :meth:`release` (or the end of
    a ``with`` block): maintenance deletes no file it reads before then."""

    store: object
    key: tuple
    partial: bool
    owners: dict = field(repr=False, compare=False)
    #: releases of the versions held, the index version a request routes
    #: through included (the server appends it)
    pins: list = field(default_factory=list, repr=False, compare=False)

    @property
    def buckets(self) -> tuple:
        return tuple(sorted(self.owners))

    @property
    def files(self) -> dict:
        """Per bucket, the names of the files this snapshot reads."""
        return {b: sorted(m.buckets[b]) for b, (_, m) in self.owners.items()}

    def frame(self, buckets: Sequence[str]) -> DataFrame:
        """The rows of ``buckets``, each read from the tier that owns it."""
        by_owner: dict = {}
        for b in buckets:
            by_owner.setdefault(self.owners[b], []).append(b)
        parts = [m.frame(t.spark, t.path, bs)
                 for (t, m), bs in by_owner.items()]
        return functools.reduce(DataFrame.unionByName, parts or [
            Manifest().frame(self.store.spark, self.store.path, [])])

    def read(self) -> DataFrame:
        """The frame this snapshot lists (hot-only when partial)."""
        return self.frame(self.buckets)

    def release(self) -> None:
        while self.pins:
            self.pins.pop()()

    def __enter__(self) -> "StoreSnapshot":
        return self

    def __exit__(self, *exc) -> None:
        self.release()

    def buckets_in_range(
        self, from_ms: Optional[int], to_ms: Optional[int]
    ) -> list[str]:
        """Buckets a time window can touch — a driver-side metadata
        filter (lexicographic compare on monotone labels, zero Spark
        jobs), the `FilterInRange` of `fracmanager/searcher.go:89`."""
        out = list(self.buckets)
        if from_ms is not None:
            lo = self.store._bucket_label(from_ms)
            out = [b for b in out if b >= lo]
        if to_ms is not None:
            hi = self.store._bucket_label(to_ms)
            out = [b for b in out if b <= hi]
        return out

    def check_fraction_hits(
        self,
        from_ms: Optional[int],
        to_ms: Optional[int],
        max_fraction_hits: int,
    ) -> None:
        """`--search-fraction-limit` (default 6000, `cmd/seq-db/flags.go:
        61`): refuse a search whose window overlaps more buckets than the
        limit (0 disables), with the reference's exact remedy message."""
        if max_fraction_hits > 0:
            n = len(self.buckets_in_range(from_ms, to_ms))
            if n > max_fraction_hits:
                raise TooManyFractionsHit(
                    f"too many fractions hit ({n} > {max_fraction_hits}), "
                    "try decreasing query time range"
                )


#: java date_format pattern -> strftime, for the four monotone shapes
_FMT_TO_STRFTIME = {
    "yyyy": "%Y",
    "yyyy-MM": "%Y-%m",
    "yyyy-MM-dd": "%Y-%m-%d",
    "yyyy-MM-dd-HH": "%Y-%m-%d-%H",
}


class DocStore:
    """A parquet-backed document store partitioned by time bucket.

    ``compression='zstd'`` by default — the codec the reference uses for
    every doc/meta/index block (`disk/codec.go:6-9`, `frac/compress.go`);
    zstd trades a little CPU for markedly smaller files, which at 100 TB is
    less I/O on every scan."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        bucket_fmt: str = "yyyy-MM-dd-HH",
        compression: str = "zstd",
        bloom_cols: tuple = ("rid",),
        bloom_at: str = "always",
    ):
        if bucket_fmt not in MONOTONE_BUCKET_FMTS:
            raise ValueError(
                f"bucket_fmt {bucket_fmt!r} is not lexicographically monotone; "
                f"use one of {MONOTONE_BUCKET_FMTS} (zero-padded, "
                "most-significant-first) so partition-prune bounds on bucket "
                "labels never drop matching buckets"
            )
        self.spark = spark
        self.path = path
        self.bucket_fmt = bucket_fmt
        self.compression = compression
        #: columns that get a parquet BLOOM FILTER per row group. The doc
        #: id (`rid`) is hash-synthesized, so its min/max stats span every
        #: row group and can never prune — fetch-by-id (`storeapi/
        #: grpc_fetch.go:42-216`) would read EVERY row group of every file
        #: in the time window. A bloom filter gives a definitive per-row-
        #: group skip for Eq/In predicates (measured: a k-id fetch reads
        #: ≤k row groups instead of all of them), the Spark analog of the
        #: reference's MID→offset doc index (`docs/en/internal/
        #: fractions.md`). Adaptive sizing keeps the write overhead to a
        #: few % of file bytes. Pinned in the store meta on first write so
        #: a later process's compact can't silently seal bloom-less files.
        self.bloom_cols = tuple(bloom_cols)
        #: when to pay the bloom write tax: "always" (default — appends
        #: AND sealing; every file skippable) or "seal" (compaction only
        #: — zero ingest tax, the reference's own seal-then-index shape:
        #: `fracmanager/fracmanager.go` active fractions are unindexed).
        #: Fresh unsealed buckets are small and cheap to scan, so "seal"
        #: trades nothing but hot-bucket fetch I/O for the measured
        #: +19% scattered-append cost. Behavioral, not layout: mixed
        #: files are fine (the reader probes blooms per file), so this
        #: is NOT meta-pinned and differently-configured writers may
        #: coexist.
        if bloom_at not in ("always", "seal"):
            raise ValueError(
                f"bloom_at must be 'always' or 'seal', got {bloom_at!r}")
        self.bloom_at = bloom_at
        self._fs = _HadoopFS(spark, path)
        self._check_meta()
        self._log = _open_log(spark, path)

    # -------------------------------------------------------- metadata pinning

    @property
    def _tz(self) -> str:
        return self.spark.conf.get("spark.sql.session.timeZone")

    def _check_meta(self) -> None:
        """Pin the (bucket_fmt, timezone) the store was first written with.

        Bucket labels are ``date_format(ts, bucket_fmt)`` in the session
        timezone; a later session with a different TZ would compute
        different labels for the same instants and the engine's bucket
        bounds would silently drop matching partitions. The first append
        persists both; every subsequent open validates."""
        meta = self._read_meta()
        if meta is None:
            return
        if meta.get("bucket_fmt") != self.bucket_fmt:
            raise ValueError(
                f"store at {self.path} was written with bucket_fmt="
                f"{meta.get('bucket_fmt')!r}, opened with {self.bucket_fmt!r}"
            )
        if meta.get("timezone") != self._tz:
            raise ValueError(
                f"store at {self.path} was written with session timezone "
                f"{meta.get('timezone')!r} but this session uses {self._tz!r}; "
                "set spark.sql.session.timeZone to match (bucket labels are "
                "timezone-dependent)"
            )

    def _read_meta(self) -> Optional[dict]:
        """One read_text + parse of ``_store_meta.json`` (or None). On an
        object store every read is a round-trip RPC — callers on the hot
        write path read ONCE and derive everything from the dict."""
        raw = self._fs.read_text(self._fs.path(META_FILE))
        return None if raw is None else json.loads(raw)

    def _write_meta(self, ts_col: str = "ts") -> dict:
        """Create or backfill the store meta; returns the EFFECTIVE meta
        dict so the caller never re-reads what was just written."""
        p = self._fs.path(META_FILE)
        meta = self._read_meta()
        if meta is None:
            meta = {"bucket_fmt": self.bucket_fmt,
                    "timezone": self._tz, "ts_col": ts_col,
                    "bloom_cols": list(self.bloom_cols)}
            self._fs.write_text(p, json.dumps(meta))
            return meta
        changed = False
        if "ts_col" not in meta:
            # legacy meta (written before ts_col pinning): backfill from
            # the first post-upgrade append instead of assuming "ts" —
            # a pre-existing store appended with a custom ts_col would
            # otherwise be rejected by the pin check, and compact would
            # sort by a possibly-absent column
            meta["ts_col"] = ts_col
            changed = True
        if "bloom_cols" not in meta:
            # legacy meta (pre bloom pinning): backfill from this instance
            meta["bloom_cols"] = list(self.bloom_cols)
            changed = True
        if changed:
            self._fs.write_text(p, json.dumps(meta))
        return meta

    def _meta_bloom_cols(self, meta: Optional[dict]) -> tuple:
        """Bloom-filtered columns pinned at first write — META WINS, so
        any process that opens the store (e.g. a maintenance-only
        compactor constructed with defaults) seals files with the same
        blooms the appends wrote; a mismatch would silently strip
        fetch-by-id row-group skipping from compacted buckets. (Appends
        additionally REJECT a mismatching instance — see append().)"""
        if meta is None:
            return self.bloom_cols
        return tuple(meta.get("bloom_cols", self.bloom_cols))

    #: adaptive-bloom size cap. The adaptive writer allocates its
    #: CANDIDATE filters up to this bound per open row group, so the cap
    #: is the write-path tax knob: measured on the scattered worst case
    #: (2k docs fanned over 720 hour-buckets), the parquet default 1 MiB
    #: costs +38% per append while 128 KiB costs +19% — and 128 KiB
    #: (~1M bits ≈ 100k NDV at 10 bits/key) still covers a full
    #: 128 MiB row group of small docs with no skip-quality loss.
    BLOOM_MAX_BYTES = 131072

    def _bloom_opts(self, writer, cols: tuple):
        """Apply parquet bloom-filter writer options for ``cols``."""
        for c in cols:
            writer = writer.option(f"parquet.bloom.filter.enabled#{c}",
                                   "true")
        if cols:
            # adaptive sizing: parquet-mr starts large (up to the cap)
            # and shrinks the bloom to the row group's observed NDV at
            # flush — without it every bloom is the worst-case cap bytes
            # regardless of row count
            writer = (writer
                      .option("parquet.bloom.filter.adaptive.enabled",
                              "true")
                      .option("parquet.bloom.filter.max.bytes",
                              str(self.BLOOM_MAX_BYTES)))
        return writer

    def _meta_ts_col(self, meta: Optional[dict]) -> str:
        """The timestamp column the store was first written with —
        compaction must sort by it (a hardcoded "ts" broke maintain() on
        stores appended with a custom ts_col). Pre-existing meta files
        without the key default to "ts"."""
        if meta is None:
            return "ts"
        return meta.get("ts_col", "ts")

    # --------------------------------------------------------------- versions

    def manifest(self) -> Manifest:
        """The newest committed version (unheld)."""
        return self._log.current()

    def snapshot(self) -> StoreSnapshot:
        """One request's view of the store (:class:`StoreSnapshot`): the
        newest version, held until the snapshot is released."""
        m, release = self._log.pin()
        return StoreSnapshot(self, (m.version, False), False,
                             dict.fromkeys(m.buckets, (self, m)), [release])

    def read(self) -> DataFrame:
        """The newest version's frame. Unheld: maintenance may delete its
        files once a later version drops them — hold a
        :meth:`snapshot` for a read that must outlive maintenance."""
        m = self.manifest()
        return m.frame(self.spark, self.path, sorted(m.buckets))

    def append(self, df: DataFrame, ts_col: str = "ts") -> None:
        """Append, ts-clustered: each task sorts its slice by (bucket, ts)
        before writing, so every file's parquet row groups carry tight ts
        min/max stats — sub-bucket time windows then skip row groups, not
        just directories. ``sortWithinPartitions`` is a local sort (no
        shuffle), so this costs O(n log n) CPU per task and nothing else;
        the reference gets the same property free from append-order MIDs
        within a fraction (`docs/en/internal/fractions.md`). The files
        are staged, moved into their buckets and committed as the next
        version."""
        with _write_lock(self.path):
            self._check_meta()
            meta = self._write_meta(ts_col)
            pinned = self._meta_ts_col(meta)
            if ts_col != pinned:
                raise ValueError(
                    f"store at {self.path} was first written with "
                    f"ts_col={pinned!r}; append got {ts_col!r} — compaction "
                    "sorts by the pinned column, so a mixed store would seal "
                    "unsorted"
                )
            bloom_cols = self._meta_bloom_cols(meta)
            if self.bloom_cols != bloom_cols:
                # same discipline as the ts_col pin: a writer that THINKS
                # it blooms different columns than the store actually does
                # would leave the caller believing fetches on those columns
                # skip row groups when they never will (or strip the rid
                # bloom from new files). Compact-only openers never hit
                # this — they take the pinned value.
                raise ValueError(
                    f"store at {self.path} was first written with "
                    f"bloom_cols={bloom_cols!r}; this writer was constructed "
                    f"with {self.bloom_cols!r} — open it with the pinned "
                    "value (new appends always write the pinned blooms)"
                )
            with self._fs.staging() as staged, _int64_timestamps(self.spark):
                writer = (
                    df.withColumn(
                        PARTITION_COL,
                        F.date_format(F.col(ts_col), self.bucket_fmt),
                    )
                    .sortWithinPartitions(PARTITION_COL, ts_col)
                    .write.partitionBy(PARTITION_COL)
                    .option("compression", self.compression)
                )
                if self.bloom_at == "always":
                    writer = self._bloom_opts(writer, bloom_cols)
                writer.parquet(staged.toString())
                added = {b: _place(self._fs, d, b) for b, d in (
                    (d.getName().partition("=")[2], d)
                    for d in self._fs.list_dirs(staged))}
                if added:
                    self._log.commit(lambda m: m.next(
                        schema=_widened(m.schema, df.schema.fields),
                        buckets={**m.buckets, **{
                            b: {**m.buckets.get(b, {}), **files}
                            for b, files in added.items()}}))

    def search_table(self, mapping, **kwargs):
        """A :class:`~seqspark.engine.SearchTable` over this store with
        time-bucket partition pruning wired (the store knows its own
        ``bucket_fmt``, so request time ranges prune whole bucket
        directories) — :meth:`SearchTable.from_store` over a snapshot."""
        from .engine import SearchTable

        return SearchTable.from_store(self, mapping, **kwargs)

    # ---------------------------------------------------- bucket-pruned page

    def bucket_row_count(self, bucket: str) -> int:
        """Row count of one time-bucket partition, from the manifest. Zero
        Spark jobs: at 100 TB with thousands of buckets, page planning
        must not launch a job per bucket (the round-6 shape did; VERDICT
        r6 #2)."""
        return self.manifest().rows(bucket)

    def _page_buckets(self, need: int, order: str = "desc",
                      m: Optional[Manifest] = None) -> list[str]:
        """Minimal bucket set covering a page of ``need`` rows: newest-first
        (desc) or oldest-first buckets accumulated until their cumulative
        row count reaches ``need`` — the reference's fraction pruning
        (`proxy/search/ingestor.go` checks fractions in time order and
        stops at MaxFractionHits). Bucket time ranges are disjoint, so the
        global top-``need`` rows by (ts, rid) are fully contained in this
        set; at 100 TB a first page reads ONE bucket, not the corpus.
        Counts come from the manifest (no Spark jobs)."""
        m = m or self.manifest()
        buckets = sorted(m.buckets, reverse=(order == "desc"))
        chosen: list[str] = []
        seen = 0
        for b in buckets:
            chosen.append(b)
            seen += m.rows(b)
            if seen >= need:
                break
        return chosen

    def match_all_page_frame(
        self, size: int, offset: int = 0, order: str = "desc"
    ) -> DataFrame:
        """Frame restricted to the buckets a MATCH-ALL page of
        (size, offset) can touch. Sorting/paging happens on top (e.g.
        ``SearchTable.search``) and returns exactly what the full-corpus
        sort would — this only prunes the scan.

        CONTRACT (hence the name): valid ONLY for match-all paging. The
        bucket choice counts raw rows, so applying a FILTER on top of this
        frame would silently miss matches living in unchosen buckets —
        run filtered searches against :meth:`read` / :meth:`search_table`
        instead."""
        m = self.manifest()
        return m.frame(self.spark, self.path,
                       self._page_buckets(offset + size, order, m))

    def _bucket_label(self, ms: int) -> str:
        """The bucket label ``date_format(ts, bucket_fmt)`` would produce
        for an epoch-ms instant — computed driver-side in the pinned
        session timezone (``_check_meta`` guarantees it matches what
        ``append`` wrote)."""
        import datetime as _dt
        import zoneinfo as _zi

        tz = _zi.ZoneInfo(self._tz)
        t = _dt.datetime.fromtimestamp(ms / 1000.0, tz=tz)
        return t.strftime(_FMT_TO_STRFTIME[self.bucket_fmt])

    # ------------------------------------------------------------- retention

    def partitions(self) -> list[str]:
        return sorted(self.manifest().buckets)

    def retain(
        self,
        max_total_bytes: Optional[int] = None,
        min_bucket: Optional[str] = None,
    ) -> list[str]:
        """Drop oldest partitions while the store exceeds ``max_total_bytes``,
        and any partition older than ``min_bucket``
        (reference `fracmanager/fracmanager.go:106-148` rotation: oldest
        fractions deleted when total size exceeds --total-size)."""
        return self._retain(max_total_bytes, min_bucket, tombstone=False)

    def _retain(self, max_total_bytes, min_bucket, tombstone: bool) -> list:
        """:meth:`retain`, recording the dropped buckets as rotation
        tombstones in the same version when ``tombstone``."""
        with _write_lock(self.path):
            m = self.manifest()
            keep = [b for b in sorted(m.buckets)
                    if min_bucket is None or b >= min_bucket]
            total = sum(m.size(b) for b in keep)
            while keep and max_total_bytes is not None and (
                    total > max_total_bytes):
                total -= m.size(keep.pop(0))  # oldest first
            dropped = sorted(set(m.buckets) - set(keep))
            if dropped:
                self._log.commit(lambda cur: cur.next(
                    buckets={b: f for b, f in cur.buckets.items()
                             if b not in dropped},
                    rotated=sorted({*cur.rotated, *dropped})
                    if tombstone else cur.rotated))
        return dropped

    # ------------------------------------------------------------ compaction

    def partition_file_count(self, bucket: str) -> int:
        return len(self.manifest().buckets.get(bucket, ()))

    def maintain(self, max_files_per_partition: int = 8, target_files: int = 1) -> list[str]:
        """Background-maintenance pass, the sealing loop of
        `fracmanager/fracmanager.go:344-385`: every streaming micro-batch
        appends small files (the active fraction's append-only blocks);
        once a partition accumulates more than ``max_files_per_partition``
        it is compacted into ``target_files`` sorted files (sealed).
        Returns the compacted buckets. The process's first pass also
        sweeps what a crashed writer left (:meth:`_Log.sweep`)."""
        self._log.sweep()
        m = self.manifest()
        done = [b for b in sorted(m.buckets)
                if len(m.buckets[b]) > max_files_per_partition]
        for b in done:
            self.compact(b, target_files)
        return done

    def compact(self, bucket: str, target_files: int = 1) -> None:
        """Rewrite one partition into ``target_files`` files — the sealing
        analog (`frac/active_sealer.go`): many small append files become one
        immutable well-sorted file; sorting by ts maximizes parquet min/max
        pruning for time predicates. The output is committed in place of
        exactly the files read, so an append committed meanwhile (by
        another process) keeps its files; the replaced ones are deleted
        once no snapshot holds them."""
        with _write_lock(self.path):
            m = self.manifest()
            replaced = dict(m.buckets.get(bucket, {}))
            if not replaced:
                return
            df = m.frame(self.spark, self.path, [bucket]).drop(PARTITION_COL)
            meta = self._read_meta()
            sort_col = self._meta_ts_col(meta)
            if sort_col not in df.columns:
                # legacy store (meta lacks ts_col, default "ts") written
                # with a custom timestamp column: sorting by an absent
                # column would fail the whole compact. The data was
                # ts-clustered at append time; a best-effort fallback to
                # the first timestamp-typed column preserves that.
                ts_like = [f.name for f in df.schema.fields
                           if f.dataType.typeName().startswith("timestamp")]
                if not ts_like:
                    raise ValueError(
                        f"store at {self.path} has no {sort_col!r} column "
                        "and no timestamp column to sort by; append once "
                        "with the correct ts_col to backfill the meta"
                    )
                sort_col = ts_like[0]
            with self._fs.staging() as staged, _int64_timestamps(self.spark):
                writer = (
                    df.sort(sort_col)
                    .coalesce(target_files)
                    .write.option("compression", self.compression)
                )
                self._bloom_opts(writer, self._meta_bloom_cols(meta)).parquet(
                    staged.toString())
                sealed = _place(self._fs, staged, bucket)
                self._log.commit(lambda cur: cur.next(buckets={
                    **cur.buckets,
                    bucket: {**{n: v for n, v in cur.buckets.get(bucket, {})
                                .items() if n not in replaced}, **sealed}}))


class TieredStore:
    """Hot + long-term (cold) store pair (`docs/en/07-long-term-store.md`).

    The reference keeps a small fast (SSD) hot store with aggressive
    rotation and a large slow (HDD) long-term store with full history:

    - *write*: every bulk goes to BOTH tiers; a failure in either fails the
      write (`07-long-term-store.md` §Write — "Error in writing to any of
      them results an overall error"). Here: two parquet appends; an
      exception from either propagates.
    - *read*: hot answers what it still holds; anything older falls through
      to the long-term store (`07-long-term-store.md` §Querying — hot
      refuses when ``From`` is older than its oldest MID). Here the split
      is exact instead of refuse-and-retry: each bucket is read from the
      one tier that owns it (:meth:`snapshot`), so the union never
      double-counts the dual-written rows, and a recent-window query
      touches zero cold files.
    - *rotation*: ``maintain()`` applies retention to the hot tier only;
      the cold tier keeps full history (optionally bounded by
      ``cold_min_bucket`` for regulatory deletes).

    At 100 TB the tiers map to different storage classes (e.g. local SSD /
    S3-IA) via their store paths — same layout, different ``path``.
    """

    def __init__(self, hot: DocStore, cold: DocStore):
        if hot.bucket_fmt != cold.bucket_fmt:
            raise ValueError("hot and cold stores must share bucket_fmt")
        self.hot = hot
        self.cold = cold
        self.spark = hot.spark
        #: server-facing attributes so a TieredStore drops into
        #: SeqSparkServer/SeqProxyGrpc anywhere a DocStore does: the async
        #: job dir and metadata live with the hot tier; both tiers share
        #: bucket_fmt and timezone, so the hot tier's labeler applies
        self.bucket_fmt = hot.bucket_fmt
        self.path = hot.path
        self._bucket_label = hot._bucket_label

    @property
    def _rotated(self) -> frozenset:
        """Rotation tombstones: buckets hot retention has dropped, kept in
        the hot tier's manifest. A shipper writing an old timestamp AFTER
        rotation re-creates the bucket in hot with only the post-rotation
        rows — but cold's dual-written copy has BOTH the pre-rotation
        rows and (via the dual write) the new ones, so ownership of a
        tombstoned bucket must stay with cold or the pre-rotation rows
        silently vanish from reads (found by the tiered burn-in)."""
        return frozenset(self.hot.manifest().rotated)

    def append(self, df: DataFrame, ts_col: str = "ts") -> None:
        """Dual write — hot first, then cold, like the reference's bulk
        send ordering; either failure aborts the bulk."""
        self.hot.append(df, ts_col)
        self.cold.append(df, ts_col)

    def read(self) -> DataFrame:
        with self.snapshot() as snap:
            return snap.read()

    def snapshot(self) -> StoreSnapshot:
        """One request's view of both tiers: the hot tier's newest
        version, then the cold tier's, whose manifest read is the probe.

        Ownership is by bucket MEMBERSHIP: hot owns the buckets it holds
        that are not tombstoned, cold every other bucket it holds — so
        the union never double-counts the dual-written rows, and
        `StoreIndex` builds each bucket from its authoritative copy. A
        threshold (`< oldest_hot`) would fail when a late-arriving old
        doc (within the ingest drift allowance) creates a hot bucket
        OLDER than buckets hot retention already dropped.

        ``partial`` is True when the cold manifest cannot be read (remote
        long-term storage down): the snapshot reads the hot window only,
        and the caller surfaces the degradation as the reference's
        PARTIAL_RESPONSE ("some of the seq-stores returned an error",
        `seq_proxy_api.proto` ErrorCode) instead of failing every query
        against the healthy recent window. The hot side must read
        cleanly — its failure propagates."""
        hm, release = self.hot._log.pin()
        hot = dict.fromkeys(hm.buckets, (self.hot, hm))
        try:
            cold = self.cold.snapshot()
        except Exception:
            logger.warning(
                "cold tier at %s unreachable; serving hot-only (partial)",
                self.cold.path,
            )
            return StoreSnapshot(self, ((hm.version, None), True), True,
                                 hot, [release])
        owned = {b: o for b, o in hot.items() if b not in hm.rotated}
        return StoreSnapshot(self, ((hm.version, cold.key[0]), False), False,
                             {**cold.owners, **owned}, [release, *cold.pins])

    def partitions(self) -> list[str]:
        """Owned buckets across both tiers; hot-only while the cold tier
        is unreachable (admission and bucket math run on the reachable
        window)."""
        with self.snapshot() as snap:
            return list(snap.buckets)

    search_table = DocStore.search_table

    def maintain(
        self,
        hot_max_total_bytes: Optional[int] = None,
        hot_min_bucket: Optional[str] = None,
        cold_min_bucket: Optional[str] = None,
        max_files_per_partition: int = 8,
    ) -> dict:
        """Rotation + sealing pass: hot retention (size/age), optional cold
        age bound, small-file compaction on both tiers. Rotation records
        its tombstones in the same hot version that drops the buckets, so
        cold keeps ownership of them forever (see ``_rotated``); rotate
        through THIS method, not ``hot.retain`` directly, or re-created
        hot buckets will shadow cold's complete copies."""
        hot_dropped = self.hot._retain(hot_max_total_bytes, hot_min_bucket,
                                       tombstone=True)
        cold_dropped = (
            self.cold.retain(min_bucket=cold_min_bucket)
            if cold_min_bucket is not None
            else []
        )
        return {
            "hot_dropped": hot_dropped,
            "cold_dropped": cold_dropped,
            "hot_compacted": self.hot.maintain(max_files_per_partition),
            "cold_compacted": self.cold.maintain(max_files_per_partition),
        }
