"""The query engine: Spark-first equivalent of seq-db's search path.

One :class:`SearchTable` replaces the reference's proxy/store/fracmanager
stack (`proxy/search/ingestor.go`, `storeapi/grpc_search.go:30-291`,
`fracmanager/searcher.go`): Catalyst + executors do the fan-out, partial
aggregation, merge and top-k that the reference hand-schedules across
shards/fractions/goroutines.

Query lifecycle (reference `storeapi/grpc_search.go:63-221` doSearch):
  parse seq-ql → compile to a Column predicate → filter(time range & pred)
  → branch into docs (orderBy/limit/offset), total (count), histogram
  (time-bucket groupBy) and aggregations (groupBy per AggQuery).

Scale notes:
- the doc-time range is applied on the timestamp column, so with a
  time-partitioned store it prunes partitions/row-groups (the fraction
  pruning of `fracmanager/searcher.go:89-101` for free);
- top-k + offset compile to one TakeOrderedAndProject(limit, offset) via
  native ``offset()``; deep paging has a keyset path (:meth:`SearchTable.
  search_after`) that costs one pruned top-k scan instead of O(offset);
- numeric ranges over native numeric columns reach Parquet PushedFilters;
  text predicates hit persisted token columns (tokens at rest) or, via
  :meth:`SearchTable.attach_index`, a materialized inverted index;
- aggregations are plain groupBy → partial+final HashAggregate, the QPR
  merge tree of `seq/qpr.go:417-462` done by Spark; the bounded bucket set
  is finalized driver-side like the reference's proxy merge;
- :meth:`SearchTable.complex_search` serves docs + total + histogram + N
  aggregations from one plan-cached construction: a docs top-k plus ONE
  fused, branch-tagged aggregate job (nothing is persisted).
"""

from __future__ import annotations

import copy
import functools
import math
import operator
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass, field as dc_field
from typing import Dict, List, Optional, Sequence, Tuple, Union

from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F

from .compile import (
    _GO_FLOAT_JAVA_RE,
    CompileError,
    FieldSpec,
    Resolver,
    compile_node,
)
from .mapping import Mapping
from .seqql.ast import PipeFields, Query
from .seqql.legacy import parse_legacy
from .seqql.parser import parse
from .tokenize import DEFAULT_MAX_TOKEN_SIZE, keyword_tokens, tokens_for_type

#: reference `conf/conf.go:24` MaxRequestedDocuments
MAX_SEARCH_DOCS = 100_000

#: the name scanned docs observe their match count under
#: (:meth:`SearchTable._complex_plan`)
_TOTAL_METRIC = "total"

#: guardrails, reference `docs/en/02-flags.md`
AGG_MAX_GROUP_TOKENS = 2_000

#: `--agg-max-field-tokens` default (`cmd/seq-db/flags.go:67`): max unique
#: AggQuery.Field values a field aggregation may parse; 0 disables
AGG_MAX_FIELD_TOKENS = 1_000_000


class TooManyUniqValuesError(RuntimeError):
    """Reference `consts` ErrTooManyUniqValues (`frac/processor/eval_tree.go:78-85`)."""


class AggParseError(RuntimeError):
    """Strict-mode aggregation hit a non-numeric field token (reference
    `frac/processor/aggregator.go:150-157` parseNum fails the whole agg)."""


def materialize_tokens(
    df: DataFrame,
    mapping_types: Dict[str, object],
    case_sensitive: bool = False,
    max_token_size: int = DEFAULT_MAX_TOKEN_SIZE,
    partial_indexing: bool = False,
) -> DataFrame:
    """Tokens-at-rest: attach a persisted ``__tok_<field>`` column per
    tokenized (text/path) field so the token arrays are computed ONCE at
    ingest and stored in the table (reference: sealed fractions carry
    precomputed token dictionaries + posting lists,
    `frac/sealed_index.go:218-266` — queries never re-tokenize).

    Write the result through :class:`seqspark.store.DocStore` (or any
    parquet/Delta sink); :meth:`SearchTable.from_typed` detects the columns
    on read and skips per-query tokenization entirely.
    """
    mapping = Mapping(dict(mapping_types))
    for fm in mapping.fields():
        pairs = [(fm.name, fm.main_type)] + [
            (f"{fm.name}.{t}", st) for t, (st, _s) in fm.sub_types.items()
        ]
        for qname, itype in pairs:
            if itype in ("keyword",):
                continue  # scalar fast path needs no token column
            tokcol = "__tok_" + qname.replace(".", "__")
            if tokcol not in df.columns:
                df = df.withColumn(
                    tokcol,
                    tokens_for_type(
                        itype,
                        F.col(fm.name).cast("string"),
                        case_sensitive,
                        max_token_size,
                        partial_indexing,
                    ),
                )
    return df


@dataclass
class AggQuery:
    """One aggregation request (reference `proxyapi/grpc_v1.go:296-333`).

    func ∈ {count, unique, sum, min, max, avg, quantile}.
    For count/unique, ``field`` is the legacy alias of ``group_by``
    (`proxyapi/grpc_v1.go:357-363`).
    """

    func: str
    field: Optional[str] = None
    group_by: Optional[str] = None
    quantiles: Sequence[float] = dc_field(default_factory=tuple)
    interval_ms: Optional[int] = None
    #: exact percentile (full sort per group) vs percentile_approx (the
    #: reference itself is approximate via seeded reservoir sampling,
    #: `seq/qpr.go:316-415`; approx is the 100 TB path)
    exact_quantiles: bool = False


def _parsed_num(tok: Column) -> Column:
    """The token as a DOUBLE, non-NULL exactly for tokens the reference's
    parseNum accepts (`frac/processor/aggregator.go:150-157`: ParseFloat
    AND not NaN/Inf). A bare try_cast is LOOSER — it trims whitespace
    (token ' 5' would contribute 5.0) and passes 'Infinity'/'nan'
    spellings through as non-finite doubles that poison sum/min/max/avg
    in the skip-unparsable default mode (r12 agg-fuzz class of bug; the
    same Go-decimal guard the range matcher uses). 1e309-style overflows
    pass the regex but cast to inf — rejected by the finite checks."""
    raw = tok.try_cast("double")
    ok = (
        tok.rlike(_GO_FLOAT_JAVA_RE)
        & raw.isNotNull()
        & ~F.isnan(raw)
        & (raw != F.lit(float("inf")))
        & (raw != F.lit(float("-inf")))
    )
    return F.when(ok, raw)


def _project(df: DataFrame, columns: Optional[Sequence[str]]) -> DataFrame:
    """``df`` narrowed to ``columns``; ``None`` keeps every column."""
    return df if columns is None else df.select(*columns)


@dataclass
class _Branch:
    """One output of a fused aggregate job (:meth:`SearchTable.
    _fused_build`): ``func`` is "total", "hist" or the agg function."""

    func: str
    group_by: Optional[str] = None
    fieldname: Optional[str] = None      # field aggs only
    quantiles: Tuple[float, ...] = ()
    exact_quantiles: bool = False
    timeseries: bool = False
    field_guard: bool = False
    strict: bool = False

    @property
    def names(self) -> List[str]:
        return _bucket_names(len(self.quantiles), bool(self.group_by))


@dataclass
class _FusedBuilt:
    """The cacheable product of :meth:`SearchTable._fused_build`: one lazy
    frame of the (guard-cut) bucket rows of every branch, tagged by branch
    index ``b``."""

    frame: DataFrame
    branches: List[_Branch]
    src: DataFrame                      # filtered rows (field-guard confirm)
    max_group_tokens: int
    max_field_tokens: int


#: the node name of each line of a physical plan's tree string
_PLAN_NODE = re.compile(r"[\s:+-]*(?:\*\(\d+\) )?(\w+)")


def _counted_once(docs: DataFrame) -> bool:
    """True when the execution of observed ``docs`` that just finished
    counted every match once: its plan, as it ran, is one
    ``TakeOrderedAndProject`` at the root whose own stage reads every row
    through the ``CollectMetrics`` (only projections and filters between
    them).

    Read after the collect: adaptive execution re-plans the page once a
    stage below it has finished, and the optimizer folds or rewrites a
    page whose row count it knows. The shapes this rejects:

    - a page that is not the root (a projection above it, as a ``|
      fields`` pipe can leave): its top-k runs through a single-partition
      shuffle, and executing the cached frame again reuses that shuffle's
      output, so the counting stage is skipped and the count reads 0;
    - no top-k at all: the optimizer dropped the limit of a page its row
      count fits, and the global sort's range shuffle counts every row a
      second time in its sampling job; or it folded a page it knows is
      empty, and the count with it;
    - a stage boundary between the top-k and the count;
    - a top-k whose input is already in page order, which reads each
      partition only up to the limit."""
    plan = docs._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan, the one that ran
        if plan.nodeName() == "ResultQueryStage":
            plan = plan.plan()
    if plan.nodeName() != "TakeOrderedAndProject":
        return False
    ordering = plan.child().outputOrdering()
    if not ordering.isEmpty() and docs.sparkSession._jvm.org.apache.spark \
            .sql.catalyst.expressions.SortOrder.orderingSatisfies(
                ordering, plan.sortOrder()):
        return False
    for line in plan.toString().splitlines()[1:]:
        node = _PLAN_NODE.match(line).group(1)
        if node == "CollectMetrics":
            return True
        if node not in ("Project", "Filter"):
            return False
    return False


def _bucket_names(n_quantiles: int, grouped: bool) -> List[str]:
    """Agg bucket columns, in the order every aggregation path yields."""
    qs = [f"q{j}" for j in range(n_quantiles)]
    if qs and grouped:
        return ["mid_ms", "name", *qs, "not_exists", "value"]
    return ["mid_ms", "name", *qs, "value", "not_exists"]


@functools.lru_cache(maxsize=64)
def _bucket_schemas(names: Tuple[str, ...]) -> tuple:
    """(StructType, matching pyarrow schema) of a bucket frame with the
    columns ``names``, every field nullable (bucket rows hold NULL mid,
    name and quantile cells). Memoized and shared, so a cached
    construction prepares no per-object schema state (a py4j schema read
    + pyarrow conversion cost ~17 ms)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    types = {"name": StringType(), "value": DoubleType()}
    schema = StructType([
        StructField(n, types.get(
            n, DoubleType() if n.startswith("q") else LongType()))
        for n in names
    ])
    return schema, to_arrow_schema(schema)


def _bucket_frame(spark, names: Sequence[str], data) -> DataFrame:
    """Driver-side bucket tuples as a JVM-side LocalRelation
    (`LocalTableScan`).

    A tuples-based ``createDataFrame`` routes through a pickled Python RDD
    whose every action pays one Python-worker round-trip per partition
    (~0.2–0.4 s for a 30-row frame on local[32]); a pyarrow Table embeds
    the rows in the plan itself, so downstream collects are pure JVM
    (~0.03 s). pyarrow (unlike the pandas conversion path) also preserves
    the null-vs-NaN distinction exactly: ``float('nan')`` stays a DOUBLE
    value, ``None`` stays SQL NULL — both occur in bucket frames (NaN =
    zero parsed samples, NULL = quantile columns of NotExists-only
    buckets)."""
    import pyarrow as pa

    schema, aschema = _bucket_schemas(tuple(names))
    cols = list(zip(*data)) if data else [[] for _ in names]
    tbl = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(cols, aschema)],
        schema=aschema,
    )
    return spark.createDataFrame(tbl, schema)


def validate_agg(aggq: "AggQuery") -> None:
    """Request validation, mirroring `proxyapi/grpc_v1.go:356-399`
    validateAgg: COUNT needs group_by-or-field (legacy alias), UNIQUE needs
    a group and never an interval, field funcs need a field, QUANTILE needs
    quantiles all within [0, 1]."""
    func = aggq.func.lower()
    if func == "count":
        if not aggq.group_by and not aggq.field:
            raise ValueError("'group_by' or 'field' must be set")
    elif func == "unique":
        if not aggq.group_by and not aggq.field:
            raise ValueError("'group_by' must be set")
        if aggq.interval_ms:
            raise ValueError(
                "remove 'interval' parameter: 'unique' aggregations do not "
                "support timeseries"
            )
    elif func in ("sum", "min", "max", "avg"):
        if not aggq.field:
            raise ValueError("'field' must be set")
    elif func == "quantile":
        if not aggq.field:
            raise ValueError("'field' must be set")
        if not aggq.quantiles:
            raise ValueError(
                "aggregation query with QUANTILE function must contain at "
                "least one quantile"
            )
        for qv in aggq.quantiles:
            if qv < 0 or qv > 1:
                raise ValueError("quantile must be between 0 and 1")
    else:
        raise ValueError(f"unknown agg func {func!r}")


def mapping_dict(mapping) -> Dict[str, object]:
    """Mapping as field → type(s), the Mapping-endpoint rendering
    (`proxyapi/grpc_mapping.go:9`). Module-level because the endpoint
    must answer from configuration alone — an empty store with no
    parquet yet still has a mapping to report."""
    out: Dict[str, object] = {}
    for fm in mapping.fields():
        if fm.sub_types:
            out[fm.name] = {
                "type": fm.main_type,
                "titles": {t: st for t, (st, _s) in fm.sub_types.items()},
            }
        else:
            out[fm.name] = fm.main_type
    return out


class SearchTable:
    """A searchable table: a DataFrame + mapping + physical field layout.

    Two layouts:
    - :meth:`from_typed` — an existing typed table (e.g. the driver's
      ``events``): each mapped field is a real column; keyword fields get a
      scalar fast path so predicates push down to the Parquet scan.
    - :meth:`from_docs` — an ingested document store produced by
      :mod:`seqspark.ingest`: fields live in extracted columns + a
      ``tokens`` map column.

    A table is a snapshot: its frame's file listing is fixed when the
    table is built (:meth:`from_store` reads one
    :class:`~seqspark.store.StoreSnapshot`), and nothing mutates a
    published table — :meth:`attach_index` returns a new one. That is
    what makes the prepared-plan cache (:meth:`_cached_plan`) sound,
    shuffle-output reuse on a cache hit included. A changed store means
    a new table, not an invalidated one.
    """

    def __init__(
        self,
        df: DataFrame,
        mapping: Mapping,
        resolver: Resolver,
        ts_col: str = "ts",
        rid_col: Optional[str] = None,
        case_sensitive: bool = False,
    ):
        self.df = df
        self.mapping = mapping
        self.resolver = resolver
        self.ts_col = ts_col
        self.rid_col = rid_col
        self.case_sensitive = case_sensitive
        #: default query dialect — the reference serves two, chosen per
        #: request by the `use-seq-ql` metadata key
        #: (`storeapi/grpc_search.go:206-216`); per-call ``dialect=`` wins
        self.dialect = "seqql"
        #: dedup keys applied on every search — set for doc stores whose
        #: mapping has `nested` fields (child rows share the parent ID,
        #: `proxy/bulk/indexer.go:162-167`; duplicates collapse at read like
        #: `seq/qpr.go:465-487`)
        self.default_dedup: Optional[Sequence[str]] = None
        #: optional inverted-index routing (attach_index)
        self._index: Optional[tuple] = None
        #: width-aware two-phase routing threshold (attach_index
        #: two_phase_min_doc_bytes); None = routing off
        self._two_phase_min_bytes: Optional[int] = None
        #: two_phase_search conf ownership (r17 knob): when True (the
        #: default) the operator raises the SESSION-global
        #: ``spark.sql.parquet.pushdown.inFilterThreshold`` to cover its
        #: id page so per-value bloom/dictionary pushdown happens with
        #: zero deployment conf. The raise is sticky and shared-session
        #: visible (a larger In threshold only widens per-value pushdown
        #: — monotone-safe, never result-changing); deployments that
        #: must not see any session mutation set this False and own the
        #: threshold themselves
        self.own_in_filter_threshold = True
        #: optional (partition_col, bucket_fmt, column type) for
        #: time-bucket directory pruning (set by from_docs(bucket_fmt=...))
        self._partition_hint: Optional[tuple] = None
        #: the attached index frame's own partition-column type (read
        #: once by attach_index); None = no column to prune on
        self._index_pdtype: Optional[str] = None
        self._init_caches()

    def _init_caches(self) -> None:
        """State a table derives lazily from its frame, index and store
        listing. None of it is ever invalidated: a table's listing is a
        fixed snapshot (:meth:`from_store`), and :meth:`attach_index`
        returns a NEW table with fresh state."""
        #: memoized avg_doc_bytes() — () = not yet sampled
        self._avg_doc_bytes_cache: tuple = ()
        self._width_lock = threading.Lock()
        #: r17 prepared-plan cache (guide §1.2 "per-task work" applied to
        #: the DRIVER): building a search/aggregate frame costs hundreds
        #: of py4j round trips (~60 ms a search, ~200 ms an aggregate,
        #: measured); a repeated query re-uses the constructed LAZY frame
        #: — the prepared-statement shape every engine has — and with it
        #: the analyzed/optimized/codegen'd QueryExecution. Every request
        #: construction is cached (:meth:`_complex_plan` for searches,
        #: complex searches and aggregates, with its route; totals;
        #: status), routed two-phase frames included; see
        #: :meth:`_cached_plan` for why reuse is sound. A transport
        #: collects the cached frame itself: a ``.select`` on it is a new
        #: Dataset that analyses and plans again, so any projection a
        #: caller needs is a build argument and part of the key
        #: (``columns=``).
        self._plan_cache: "OrderedDict[tuple, tuple]" = OrderedDict()
        self._plan_cache_lock = threading.Lock()

    def attach_index(
        self,
        index_df: DataFrame,
        fields: Sequence[str],
        id_cols: Sequence[str] = ("mid", "rid"),
        stats: Optional["IndexStats"] = None,
        max_selectivity: float = 0.1,
        broadcast_max_docs: int = 200_000,
        two_phase_min_doc_bytes: Optional[int] = None,
    ) -> "SearchTable":
        """Route text-token predicates through a materialized inverted index
        (SURVEY §7.2; the posting-list path of `frac/sealed_index.go:
        218-266`).

        Every query whose top level is AND-decomposable and contains at
        least one exact-token literal on a covered field is PREFILTERED by a
        semi-join against the index id set — one pruned index scan sized by
        posting-list length, not corpus size — and the full predicate is
        then applied on the surviving rows, so results are identical for
        every query shape (the index only ever shrinks the scan). On a
        narrow table (see ``two_phase_min_doc_bytes``) no semi-join is
        built at all.

        With ``stats`` (:func:`seqspark.index.collect_index_stats`), routing
        becomes SELECTIVE — the dictionary-narrowing heuristic of
        `pattern/pattern.go:50-64`: a conjunct routes through the index only
        when its estimated doc-frequency ratio is ≤ ``max_selectivity``;
        stop-word-grade tokens (and prefixless wildcards, whose posting
        union is unbounded) stay on the scan path, where the predicate
        matches most rows anyway and a semi-join would only add a shuffle.
        Results are identical either way — the heuristic picks the plan,
        never the answer.

        ``broadcast_max_docs`` extends the stats routing to the JOIN
        STRATEGY (r14, measured at ×1/×10/×100 in tools/bench_scale.py:
        the plain semi-join's marginal cost grew FASTER than the column
        scan's because the corpus side shuffles on the id): when the
        stats upper-bound on the posting id set — min conjunct ratio ×
        total docs for an AND group, the ratio sum for an OR group — is
        at most this many docs, the id set is broadcast-hinted and the
        semi-join runs map-side, shuffle-free on the corpus at any
        scale. Prefix wildcards have no bounded posting estimate and
        never broadcast. 0 disables the hint.

        ``two_phase_min_doc_bytes`` is the ONE width rule for both index
        routes, read against the average stored doc width
        (:meth:`avg_doc_bytes`: parquet footer bytes/rows, driver-side
        metadata only, zero Spark jobs):

        - at or above it (a WIDE table), a bounded, fully index-covered
          :meth:`search` is served by :meth:`two_phase_search` — the
          reference's search→fetch wire architecture
          (`proxy/search/ingestor.go:140-151`), whose phase-1 I/O is
          independent of document width (measured crossover ≈3 KB
          bodies from ×10, BASELINE.md §r15); every other request
          takes the semi-join above;
        - below it (a NARROW table), every request is the plain column
          scan with the full predicate: no semi-join, no posting scan.
          The semi-join lost to the scan on narrow docs at every
          measured scale (×1/×10/×100, BASELINE.md §r14: 1.9×–2.5× the
          scan's time), and its id side costs 2–3 extra Spark jobs a
          read.

        ``None`` (default), or a width that cannot be read, keeps the
        semi-join for every selective conjunct and never routes
        two-phase. Any precondition failure falls back silently to a
        plan that gives the same results: the rule picks the plan,
        never the answer.

        Returns a NEW table with an empty plan cache and width memo; the
        receiver is left untouched (its cached plans embed its own
        routing), so callers chain on the return value.
        """
        new = copy.copy(self)
        new._init_caches()
        new._index = (
            index_df,
            set(fields),
            tuple(id_cols),
            stats,
            max_selectivity,
            broadcast_max_docs,
        )
        new._two_phase_min_bytes = two_phase_min_doc_bytes
        if self._partition_hint is not None:
            # partition type inference can differ between store and index
            # directories: bucket bounds compare in the index's own type
            new._index_pdtype = dict(index_df.dtypes).get(
                self._partition_hint[0])
        return new

    def _index_leaf(self, node) -> Optional[tuple]:
        """(field, exact_token_or_None, prefix, like_pattern_or_None) when
        ``node`` is an index-covered literal, else None."""
        from .compile import wildcard_like
        from .seqql.ast import TOKEN_ALL, TOKEN_EXISTS, Literal, TermKind

        covered = self._index[1]
        if (
            not isinstance(node, Literal)
            or node.field in (TOKEN_ALL, TOKEN_EXISTS)
            or node.field not in covered
            or node.is_match_all
        ):
            return None
        if node.single_text is not None:
            return (node.field, node.single_text, "", None)
        prefix = (
            node.terms[0].data
            if node.terms and node.terms[0].kind is TermKind.TEXT
            else ""
        )
        return (node.field, None, prefix, wildcard_like(node.terms))

    def _or_leaves(self, node) -> Optional[List[tuple]]:
        """Leaves of a pure-OR subtree when EVERY disjunct is index-covered
        (otherwise routing would drop matches of uncovered disjuncts)."""
        from .seqql.ast import Logical, LogicalOp

        if isinstance(node, Logical) and node.op is LogicalOp.OR:
            left = self._or_leaves(node.children[0])
            right = self._or_leaves(node.children[1])
            if left is None or right is None:
                return None
            return left + right
        leaf = self._index_leaf(node)
        return [leaf] if leaf is not None else None

    @staticmethod
    def _or_group_ratio(leaves, stats) -> float:
        """Upper-bound df ratio of an OR group: sum of exact-token ratios;
        prefix leaves count at the hot-list floor (they are narrowed but
        unlisted); a prefixless wildcard leaf is an unbounded dictionary
        scan → never selective."""
        total = 0.0
        for fld, token, prefix, _regex in leaves:
            if token is not None:
                total += stats.ratio(fld, token)
            elif prefix:
                total += stats.floor
            else:
                return float("inf")
        return total

    def _index_conjuncts(self, node) -> tuple:
        """Index-routable conjuncts: walk AND nodes; each conjunct routes as
        an exact (field, token) pair, a wildcard (prefix narrowing), or a
        fully-covered OR group (``in()`` / keyword-OR → posting-list
        union). Anything else — NOT, partially-covered OR — is left to the
        residual predicate."""
        from .seqql.ast import Logical, LogicalOp

        if isinstance(node, Logical) and node.op is LogicalOp.AND:
            l0, w0, o0 = self._index_conjuncts(node.children[0])
            l1, w1, o1 = self._index_conjuncts(node.children[1])
            return l0 + l1, w0 + w1, o0 + o1
        leaf = self._index_leaf(node)
        if leaf is not None:
            fld, token, prefix, rx = leaf
            if token is not None:
                return [(fld, token)], [], []
            return [], [(fld, prefix, rx)], []
        ors = self._or_leaves(node)
        if ors is not None:
            return [], [], [ors]
        return [], [], []

    @staticmethod
    def _public(df: DataFrame) -> DataFrame:
        internal = [c for c in df.columns if c.startswith("__tok_")]
        return df.drop(*internal) if internal else df

    # ------------------------------------------------------------------ build

    @classmethod
    def from_typed(
        cls,
        df: DataFrame,
        mapping_types: Dict[str, object],
        ts_col: str = "ts",
        rid_col: Optional[str] = None,
        case_sensitive: bool = False,
        assume_folded: bool = False,
        max_token_size: int = DEFAULT_MAX_TOKEN_SIZE,
        partial_indexing: bool = False,
    ) -> "SearchTable":
        """``mapping_types`` maps a column name to its index type — either a
        plain type string (``"keyword"``) or a multi-type spec
        ``{"types": [{"type": "text"}, {"title": "keyword", "type":
        "keyword"}]}`` that additionally registers ``name.title`` sub-fields
        over the same column (`seq/mapping.go:125-166`,
        `tests/integration_tests/integration_test.go:1773-1860`).

        ``assume_folded=True`` declares that keyword column values are
        already lower-case on disk (the reference guarantees this by folding
        at index time, `tokenizer/tokenizer.go:15-48`); equality then
        compiles to a bare ``col = 'v'`` that pushes down into the Parquet
        scan — at 100 TB that is the difference between pruning row groups
        and evaluating ``lower()`` on every row.

        Natively numeric columns additionally get a ``numeric`` fast path:
        numeric ranges compile to bare comparisons on the raw column
        (Parquet ``PushedFilters`` + row-group min/max skipping) instead of
        ``CAST(CAST(c AS STRING) AS DOUBLE)``.

        Tokenized (text/path) fields: if the frame already carries a
        ``__tok_<field>`` column (tokens persisted at ingest by
        :func:`materialize_tokens` + :class:`seqspark.store.DocStore`), it
        is used as-is — queries then pay ZERO tokenization cost, mirroring
        the reference's tokens-at-rest posting lists
        (`frac/sealed_index.go:218-266`). Otherwise the token array is
        materialized once per scan as a hidden column so a multi-token
        query tokenizes each row once, not once per query token."""
        mapping = Mapping(dict(mapping_types))
        dtypes = dict(df.dtypes)
        if dtypes.get(ts_col) == "timestamp_ntz":
            # TIMESTAMP_NTZ (parquet isAdjustedToUTC=false under Spark 4)
            # breaks unix_millis/watermarks; reinterpret the wall time as a
            # UTC instant independent of the session timezone (a bare cast
            # shifts epochs by the session offset)
            from .data import _ntz_as_utc

            df = df.withColumn(ts_col, _ntz_as_utc(F.col(ts_col)))
            dtypes[ts_col] = "timestamp"
        _INT_TYPES = {"tinyint", "smallint", "int", "bigint"}
        _FLOAT_TYPES = {"float", "double"}
        specs: Dict[str, FieldSpec] = {}

        def add_spec(qname: str, colname: str, itype: str, nonlocal_df: list) -> None:
            col = F.col(colname).cast("string")
            dtype = dtypes.get(colname, "")
            numeric = None
            numeric_is_float = False
            if dtype in _INT_TYPES | _FLOAT_TYPES or dtype.startswith("decimal"):
                numeric = lambda c=colname: F.col(c)
                numeric_is_float = dtype in _FLOAT_TYPES
            if itype == "keyword" and partial_indexing:
                # `--partial-indexing`: over-cap values are indexed as
                # their first max_token_size chars. The truncation makes
                # the bare-scalar fast path unsound (a cap-length literal
                # may equal the TRUNCATION of a longer value), so this
                # opt-in mode routes through the token array instead —
                # parity over pushdown, like the reference flag trades
                # exactness for coverage.
                specs[qname] = FieldSpec(
                    tokens=(
                        lambda c=col: keyword_tokens(
                            c, case_sensitive, max_token_size, True
                        )
                    ),
                    exists=(lambda c=col: c.isNotNull()),
                    numeric=numeric,
                    numeric_is_float=numeric_is_float,
                )
            elif itype == "keyword":
                folded = col if (case_sensitive or assume_folded) else F.lower(col)
                eq_native = None
                if dtype in _INT_TYPES:
                    # integral column: equality against the CANONICAL
                    # decimal rendering compiles to a bare typed
                    # comparison (pushable + bloom-skippable); any other
                    # literal can never equal a rendering → lit(False),
                    # the verdict the string compare reaches row by row
                    _INT_LO_HI = {
                        "tinyint": (-(1 << 7), (1 << 7) - 1),
                        "smallint": (-(1 << 15), (1 << 15) - 1),
                        "int": (-(1 << 31), (1 << 31) - 1),
                        "bigint": (-(1 << 63), (1 << 63) - 1),
                    }
                    lo, hi = _INT_LO_HI[dtype]

                    def eq_native(v, c=colname, lo=lo, hi=hi):
                        try:
                            n = int(v)
                        except ValueError:
                            return F.lit(False)
                        if str(n) != v or not (lo <= n <= hi):
                            return F.lit(False)
                        # isNotNull conjunct: every compile leaf must be
                        # two-valued — a bare `col == n` is NULL on NULL
                        # rows and `not field:v` would then silently DROP
                        # them instead of matching. Both conjuncts push.
                        return F.col(c).isNotNull() & (F.col(c) == F.lit(n))
                # over-cap values were never indexed (`tokenizer/
                # keyword_tokenizer.go:22-42`): equality stays a bare
                # pushable comparison (compile proves a within-cap literal
                # can't equal an over-cap value); wildcard/range AND in the
                # byte-cap guard
                specs[qname] = FieldSpec(
                    tokens=(
                        lambda c=col, fc=folded: F.when(
                            c.isNull(), F.lit(None).cast("array<string>")
                        ).otherwise(
                            F.when(
                                F.octet_length(c) > max_token_size,
                                F.array().cast("array<string>"),
                            ).otherwise(F.array(fc))
                        )
                    ),
                    # over-cap values were never indexed: the scalar agg
                    # fast path must send them to the `_not_exists` bucket
                    # (NULL) exactly like the token path — without the cap,
                    # the same data aggregated differently depending on
                    # whether tokens were materialized at ingest
                    scalar=(
                        lambda c=col, fc=folded: F.when(
                            F.octet_length(c) <= max_token_size, fc
                        )
                    ),
                    # filters use the bare folded column + guard conjunct
                    # (compile._apply_check) so EqualTo/StartsWith push
                    # into the scan instead of hiding inside the cap CASE
                    scalar_raw=(lambda fc=folded: fc),
                    eq_native=eq_native,
                    exists=(lambda c=col: c.isNotNull()),
                    numeric=numeric,
                    numeric_is_float=numeric_is_float,
                    guard=(lambda c=col: F.octet_length(c) <= max_token_size),
                    max_token_bytes=max_token_size,
                )
            else:
                tokcol = "__tok_" + qname.replace(".", "__")
                if tokcol not in nonlocal_df[0].columns:
                    nonlocal_df[0] = nonlocal_df[0].withColumn(
                        tokcol,
                        tokens_for_type(
                            itype, col, case_sensitive, max_token_size,
                            partial_indexing,
                        ),
                    )
                specs[qname] = FieldSpec(
                    tokens=(lambda tc=tokcol: F.col(tc)),
                    exists=(lambda c=col: c.isNotNull()),
                    numeric=numeric,
                    numeric_is_float=numeric_is_float,
                )

        holder = [df]
        for fm in mapping.fields():
            add_spec(fm.name, fm.name, fm.main_type, holder)
            for title, (sub_type, _size) in fm.sub_types.items():
                add_spec(f"{fm.name}.{title}", fm.name, sub_type, holder)
        df = holder[0]
        return cls(df, mapping, Resolver(specs), ts_col, rid_col, case_sensitive)

    @classmethod
    def from_store(cls, store, mapping: Mapping, **kw) -> "SearchTable":
        """Open a :class:`seqspark.store.DocStore` (or
        :class:`~seqspark.store.TieredStore`) for search — or a
        :class:`~seqspark.store.StoreSnapshot` already taken of one, as
        the server passes its request's. The table reads exactly that
        snapshot: hot-only when it is partial (cold tier down). Wires the
        store's ``bucket_fmt`` so request time ranges prune whole bucket
        directories (PartitionFilters). A store's snapshot is released
        once the table is built: hold one yourself for a table that must
        outlive maintenance."""
        from .store import StoreSnapshot

        if not isinstance(store, StoreSnapshot):
            with store.snapshot() as snap:
                return cls.from_store(snap, mapping, **kw)
        kw.setdefault("bucket_fmt", store.store.bucket_fmt)
        return cls.from_docs(store.read(), mapping, **kw)

    @classmethod
    def from_docs(
        cls,
        df: DataFrame,
        mapping: Mapping,
        ts_col: str = "ts",
        rid_col: str = "rid",
        case_sensitive: bool = False,
        bucket_fmt: Optional[str] = None,
    ) -> "SearchTable":
        """Docs frame from :func:`seqspark.ingest.ingest_docs`:
        ``id``, ``ts``, ``rid``, ``raw``, ``tokens MAP<STRING,ARRAY<STRING>>``.

        Pass ``bucket_fmt`` (the owning :class:`~seqspark.store.DocStore`'s
        ``bucket_fmt`` — :meth:`DocStore.search_table` does this for you)
        to enable time-bucket PARTITION pruning: request time ranges then
        also filter the ``ts_bucket`` partition column, so Spark skips
        whole bucket directories, not just row groups. The format string
        MUST match the store's exactly — a mismatched granularity would
        compare differently-shaped strings and silently drop buckets,
        which is why this is opt-in rather than inferred."""
        specs: Dict[str, FieldSpec] = {}

        def spec_for(fname: str) -> FieldSpec:
            return FieldSpec(
                tokens=(lambda f=fname: F.col("tokens").getItem(f)),
                exists=(lambda f=fname: F.col("tokens").getItem(f).isNotNull()),
            )

        for fm in mapping.fields():
            specs[fm.name] = spec_for(fm.name)
            for title in fm.sub_types:
                sub = f"{fm.name}.{title}"
                specs[sub] = spec_for(sub)
        # drift-clamped docs carry an indexed original_timestamp token even
        # when absent from the mapping (`docs/en/07-long-term-store.md`
        # §"Avoid old docs in hot store")
        specs.setdefault("original_timestamp", spec_for("original_timestamp"))

        class DocResolver(Resolver):
            def resolve(self, fieldname: str) -> FieldSpec:  # lazy dotted paths
                if fieldname not in self._specs:
                    if mapping.index_type(fieldname) is None:
                        raise CompileError(f"field {fieldname!r} is not indexed")
                    self._specs[fieldname] = spec_for(fieldname)
                return self._specs[fieldname]

        table = cls(df, mapping, DocResolver(specs), ts_col, rid_col, case_sensitive)
        if any(fm.main_type == "nested" for fm in mapping.fields()):
            table.default_dedup = ["mid", "rid"]
        # store-read frames carry the time-bucket partition column: derive
        # bucket bounds from request time ranges so Spark prunes whole
        # partition DIRECTORIES (PartitionFilters), not just row groups —
        # the fraction-level time pruning of `proxy/search/ingestor.go`
        if bucket_fmt is not None:
            from .store import MONOTONE_BUCKET_FMTS, PARTITION_COL as _PCOL

            if bucket_fmt not in MONOTONE_BUCKET_FMTS:
                # a non-zero-padded pattern (e.g. yyyy-M-d) breaks the
                # lexicographic-order-equals-time-order property the prune
                # bounds rely on — refusing beats silently dropping buckets
                raise ValueError(
                    f"bucket_fmt {bucket_fmt!r} is not lexicographically "
                    f"monotone; use one of {MONOTONE_BUCKET_FMTS}"
                )
            # partition type inference turns yyyy labels into INT and
            # yyyy-MM-dd into DATE directories — the hint carries the
            # inferred type so the bounds compare in the column's own
            # type (a silent string-only check used to disable directory
            # pruning entirely for those two documented formats)
            pdtype = dict(df.dtypes).get(_PCOL)
            if pdtype in ("string", "date", "int", "bigint"):
                table._partition_hint = (_PCOL, bucket_fmt, pdtype)
        return table

    # ----------------------------------------------------------------- basics

    def parse(self, q: str, dialect: Optional[str] = None) -> Query:
        d = dialect or self.dialect
        if not q or not q.strip():
            # empty query → match-all, applied BEFORE dialect parse like the
            # reference store (`storeapi/grpc_search.go:184-188`)
            q = "_all_:*"
        elif d == "legacy" and q.strip() == "*":
            # bare `*` is this engine's own match-all default (and seq-ql's
            # idiom); the legacy grammar spells it `_all_:*` — rewrite so
            # every q-defaulting API works under a legacy dialect
            q = "_all_:*"
        if d == "legacy":
            return parse_legacy(q, self.mapping, self.case_sensitive)
        if d != "seqql":
            raise ValueError(f"unknown query dialect {d!r}")
        return parse(q, self.mapping, self.case_sensitive)

    def predicate(self, q: str, dialect: Optional[str] = None) -> Column:
        return compile_node(self.parse(q, dialect).root, self.resolver)

    def _time_filter(
        self, from_ms: Optional[int], to_ms: Optional[int]
    ) -> Optional[Column]:
        """Request-level [from, to] window on doc time, millisecond
        granularity inclusive on both ends (reference
        `proxyapi/grpc_v1.go:189-234`, MID is a unix-ms value).

        Compiled as BARE comparisons on the timestamp column — a
        ``unix_millis(ts) >= lit`` wrapper blocks Parquet pushdown
        entirely, so the most common log-search filter would scan every
        row group at 100 TB. ``floor(ts_ms) >= from ⟺ ts >= from`` and
        ``floor(ts_ms) <= to ⟺ ts < to+1`` for integer ms bounds, so the
        bare forms are exactly the reference's MID semantics."""
        dtype = dict(self.df.dtypes).get(self.ts_col)
        if dtype == "timestamp":
            ts = F.col(self.ts_col)
            cond = None
            if from_ms is not None:
                cond = ts >= F.timestamp_millis(F.lit(from_ms))
            if to_ms is not None:
                c2 = ts < F.timestamp_millis(F.lit(to_ms + 1))
                cond = c2 if cond is None else (cond & c2)
            return cond
        # non-TIMESTAMP ts (e.g. TIMESTAMP_NTZ reaching a user-built
        # frame): fall back to the wrapper form, correct but not pushable
        ts_ms = F.unix_millis(F.col(self.ts_col))
        cond = None
        if from_ms is not None:
            cond = ts_ms >= F.lit(from_ms)
        if to_ms is not None:
            c2 = ts_ms <= F.lit(to_ms)
            cond = c2 if cond is None else (cond & c2)
        return cond

    def _filtered(
        self,
        query: Query,
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        dedup_cols: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Filter by time + the parsed ``query``'s predicate, then collapse
        ID repetitions (its pipes are the caller's to apply).

        Dedup happens HERE so that search, total, histogram and aggregate
        all see the same row set — the reference removes repetitions from
        the total count and the histogram too at merge
        (`seq/qpr.go:417-462` MergeQPRs → removeRepetitionsAdvanced:
        ``dst.Total -= repetitionsCount`` + removeHistogramRepetition).

        With an index attached, selective text conjuncts prefilter the
        scan by a semi-join against their posting ids — unless the width
        rule calls the table narrow (:meth:`attach_index`
        ``two_phase_min_doc_bytes``): then the scan applies the full
        predicate alone, which on narrow docs costs less than the
        semi-join's extra jobs. Same rows either way: the semi-join only
        ever shrinks the rows the predicate then checks."""
        pred = compile_node(query.root, self.resolver)
        df = self.df
        tf = self._time_filter(from_ms, to_ms)
        if tf is not None:
            # one filter: each is analysed eagerly, a py4j round trip
            bounds = self._bucket_bounds(from_ms, to_ms)
            df = df.filter(tf if bounds is None else tf & bounds)
        if self._index is not None:
            pairs, wildcards, or_groups = self._index_conjuncts(query.root)
            index_df, _, id_cols, stats, max_sel, bcast_max = self._index
            if stats is not None:
                # selectivity routing: hot tokens (df ratio > max_sel) match
                # most of the corpus — the semi-join would not shrink the
                # scan, so leave those conjuncts to the scan predicate
                pairs = [p for p in pairs if stats.ratio(*p) <= max_sel]
                wildcards = [w for w in wildcards if w[1]]  # need a prefix
                or_groups = [
                    g
                    for g in or_groups
                    if self._or_group_ratio(g, stats) <= max_sel
                ]
            if (pairs or wildcards or or_groups) and self._width() != "narrow":
                from .index import (
                    matching_ids_multi,
                    matching_ids_or,
                    matching_ids_wildcard,
                )

                # the index is time-partitioned like the store (one
                # directory per ts_bucket, index.py) — apply the SAME
                # bucket bounds to the posting scan, or a 1-hour query
                # over a month-old corpus reads every index bucket
                bounds = self._bucket_bounds(from_ms, to_ms, index=True)
                if bounds is not None:
                    index_df = index_df.filter(bounds)

                def sized(ids, est_docs):
                    # stats-driven join strategy: a provably-small id set
                    # broadcasts, so the corpus side never shuffles on the
                    # id — the distinction between "smaller scan" and
                    # "shuffle-free scan" is what dominates at 100 TB
                    if (
                        stats is not None
                        and est_docs is not None
                        and est_docs <= bcast_max
                    ):
                        return F.broadcast(ids)
                    return ids

                if pairs:
                    ids = matching_ids_multi(index_df, pairs, id_cols)
                    est = (
                        min(stats.ratio(*p) for p in pairs)
                        * stats.total_docs
                        if stats is not None
                        else None
                    )
                    df = df.join(sized(ids, est), on=list(id_cols),
                                 how="left_semi")
                for fld, prefix, pat in wildcards:
                    ids = matching_ids_wildcard(index_df, fld, prefix, pat, id_cols)
                    # prefix-dictionary bound (index.prefix_bound): only
                    # a full (untruncated) hot list can bound the union
                    # of matching tokens' postings — truncated stats
                    # yield None and the join stays unhinted
                    est = (
                        stats.prefix_bound(fld, prefix)
                        if stats is not None
                        else None
                    )
                    df = df.join(sized(ids, est), on=list(id_cols),
                                 how="left_semi")
                for leaves in or_groups:
                    ids = matching_ids_or(index_df, leaves, id_cols)
                    est = (
                        self._or_group_ratio(leaves, stats)
                        * stats.total_docs
                        if stats is not None
                        else None
                    )
                    df = df.join(sized(ids, est), on=list(id_cols),
                                 how="left_semi")
        df = df.filter(pred)
        dedup = dedup_cols if dedup_cols is not None else self.default_dedup
        if dedup:
            df = df.dropDuplicates(list(dedup))
        return df

    def _bucket_bounds(
        self, from_ms: Optional[int], to_ms: Optional[int], index: bool = False
    ) -> Optional[Column]:
        """Redundant-but-prunable time-bucket partition bounds, as one
        condition, for a frame that carries the store's partition
        column: the store scan, or the posting index when ``index``.
        Lexicographic compare is valid because date_format patterns
        like yyyy-MM-dd-HH order fields most-significant first; bucket
        granularity ⊇ the ts window, so the bounds are conservative
        (never drop matches). Bucket labels follow the session timezone,
        same as DocStore.append wrote them. The column's type comes from
        the table (read once when it was built, or when the index was
        attached), never from the frame: a derived frame's schema is a
        py4j fetch per request. None without a partition hint, a
        window, or the column."""
        if self._partition_hint is None or (from_ms is None and to_ms is None):
            return None
        pcol, fmt, pdtype = self._partition_hint
        if index:
            pdtype = self._index_pdtype
            if pdtype is None:
                return None

        def bound(ms: int) -> Column:
            label = F.date_format(F.timestamp_millis(F.lit(ms)), fmt)
            if pdtype == "date":
                return F.to_date(label)
            if pdtype in ("int", "bigint"):
                return label.cast(pdtype)
            return label

        cond = None
        if from_ms is not None:
            cond = F.col(pcol) >= bound(from_ms)
        if to_ms is not None:
            hi = F.col(pcol) <= bound(to_ms)
            cond = hi if cond is None else (cond & hi)
        return cond

    def _sort_cols(self, order: str) -> List[Column]:
        """Result order is (MID, RID) = (millisecond timestamp, rid) — the
        reference's document identity (`seq/seq.go:37-90`), NOT raw
        sub-ms timestamp order: the wire cursor (`search_after`) can only
        carry ms+rid, so sorting by raw micros would disagree with the
        cursor's equality class and skip/duplicate rows whose timestamps
        differ only below the millisecond. Raw ts rides as a final
        tiebreak for deterministic output when rid is absent."""
        dtype = dict(self.df.dtypes).get(self.ts_col, "")
        if dtype.startswith("timestamp"):
            key: Column = F.unix_millis(
                F.col(self.ts_col).cast("timestamp")
                if dtype == "timestamp_ntz"
                else F.col(self.ts_col)
            )
        else:
            key = F.col(self.ts_col)
        cols = [key]
        if self.rid_col:
            cols.append(F.col(self.rid_col))
        cols.append(F.col(self.ts_col))
        if order == "desc":
            return [c.desc() for c in cols]
        return [c.asc() for c in cols]

    # ----------------------------------------------------------------- search

    def search(
        self,
        q: str = "*",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        size: Optional[int] = None,
        offset: int = 0,
        order: str = "desc",
        dedup_cols: Optional[Sequence[str]] = None,
        dialect: Optional[str] = None,
        columns: Optional[Sequence[str]] = None,
    ) -> DataFrame:
        """Filter + order by (ts, rid) + offset/size pagination
        (reference `seq/qpr.go:417-494` merge/paginate,
        `proxy/search/ingestor.go:195-208`).

        Returns the matching rows: every public column, or ``columns``
        when given (selected after the pipes, part of the plan-cache key,
        so a caller collects the cached frame itself). ``size=None``
        returns every match (export mode, `proxyapi/grpc_export.go:27-77`).
        The docs of :meth:`_complex_plan`: one plan-cached construction,
        routed or scanned; :meth:`complex_search` also reports the route.
        """
        return self._complex_plan(
            q, from_ms, to_ms, size, offset, order, False, None, (), False,
            dialect, columns, dedup_cols,
        )[1]

    def avg_doc_bytes(self, sample_files: int = 16) -> Optional[float]:
        """Average stored bytes per document — compressed parquet file
        size over footer record count, sampled over at most
        ``sample_files`` files spread across the table. Driver-side
        metadata reads only (Hadoop FileStatus + parquet footers, read as
        the store reads a file's manifest entry): ZERO Spark jobs,
        works on any Hadoop filesystem. ``None`` when the frame is not
        file-backed (nothing to sample) or the metadata read fails —
        callers must treat that as "width unknown", never as narrow.
        Sampled at most once per table: its file listing is fixed."""
        with self._width_lock:
            if not self._avg_doc_bytes_cache:
                self._avg_doc_bytes_cache = (
                    self._sample_doc_bytes(sample_files),)
            return self._avg_doc_bytes_cache[0]

    def _sample_doc_bytes(self, sample_files: int) -> Optional[float]:
        from .store import _HadoopFS

        try:
            files = [f for f in self.df.inputFiles()
                     if f.endswith(".parquet")]
            if not files:
                return None
            sample = files[::max(1, len(files) // sample_files)][:sample_files]
            fs = _HadoopFS(self.df.sparkSession, sample[0])
            sizes, rows = zip(*(fs.file_entry(p) for p in sample))
            return sum(sizes) / sum(rows) if sum(rows) else None
        except Exception:
            return None

    def _width(self) -> Optional[str]:
        """The one width rule of both index routes (:meth:`attach_index`
        ``two_phase_min_doc_bytes``): ``"wide"`` at or above the
        threshold, ``"narrow"`` below it, ``None`` when no threshold is
        set or the width is unknown — never read as narrow."""
        if self._two_phase_min_bytes is None:
            return None
        width = self.avg_doc_bytes()
        if width is None:
            return None
        return "wide" if width >= self._two_phase_min_bytes else "narrow"

    def _route_two_phase(
        self,
        query: Query,
        from_ms: Optional[int],
        to_ms: Optional[int],
        size: Optional[int],
        offset: int,
        order: str,
        dedup_cols: Optional[Sequence[str]],
        after: Optional[Tuple[int, int]] = None,
    ) -> Optional[DataFrame]:
        """Width-aware scan-vs-two-phase router (r16, verdict #2): when
        :meth:`attach_index` enabled it, a bounded, fully index-covered
        search over a WIDE corpus is served by :meth:`two_phase_search`
        — the reference's search→fetch architecture
        (`proxy/search/ingestor.go:140-151`) — because only the
        posting-page plan's I/O is independent of document width. The
        decision reads two zero-job signals: IndexStats selectivity
        (the same conjunct-ratio test the in-plan semi-join uses — a
        query with no selective conjunct stays on the scan, where the
        predicate matches most rows anyway) and the average stored doc
        width from parquet footers. Results are identical on both paths
        (pinned by the parity suite); EVERY precondition failure returns
        None and the caller falls back to the scan plan, so the router
        can never turn a servable query into an error."""
        if self._index is None:
            return None
        if size is None or size + offset > MAX_SEARCH_DOCS:
            return None
        _idx, _f, id_cols, stats, max_sel, _b = self._index
        if tuple(id_cols) != ("mid", self.rid_col):
            return None
        dedup = dedup_cols if dedup_cols is not None else self.default_dedup
        if dedup and not set(id_cols) <= set(dedup):
            return None
        if dedup_cols is not None and list(dedup_cols) != list(
                self.default_dedup or []):
            # two_phase_search applies default_dedup; a caller-supplied
            # override must not be silently swapped for it
            return None
        if not self._index_covers(query.root):
            return None
        pairs, wildcards, or_groups = self._index_conjuncts(query.root)
        if not (pairs or wildcards or or_groups):
            return None
        if stats is not None:
            ests = [stats.ratio(f, t) for f, t in pairs]
            ests += [self._or_group_ratio(g, stats) for g in or_groups]
            for fld, prefix, _pat in wildcards:
                bound = stats.prefix_bound(fld, prefix)
                if bound is not None:
                    ests.append(bound / max(1, stats.total_docs))
            if not ests or min(ests) > max_sel:
                return None
        if self._width() != "wide":
            return None
        try:
            return self.two_phase_search(
                query, from_ms=from_ms, to_ms=to_ms, size=size, offset=offset,
                order=order, after=after,
            )
        except ValueError:
            return None

    def _paginate(
        self, df: DataFrame, size: Optional[int], offset: int, order: str
    ) -> DataFrame:
        """Top-k + offset via native Offset: ``orderBy().offset(o).limit(n)``
        compiles to one ``TakeOrderedAndProject(limit=o+n, offset=o)`` —
        limit pushdown with no window, no single-partition stage (the
        early-exit top-k of `frac/processor/search.go:150-206` +
        the offset slice of `proxy/search/ingestor.go:195-208`)."""
        sort = self._sort_cols(order)
        df = df.orderBy(*sort)
        if offset > 0:
            df = df.offset(offset)
        if size is not None:
            df = df.limit(size)
        return df

    def two_phase_search(
        self,
        q: Union[str, Query],
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        size: int = 100,
        offset: int = 0,
        order: str = "desc",
        dialect: Optional[str] = None,
        after: Optional[Tuple[int, int]] = None,
    ) -> DataFrame:
        """The reference's actual search architecture as one operator:
        top-(size+offset) ids from the POSTING LISTS alone (a narrow
        index scan + TakeOrdered — cost independent of document width),
        then ONE id-page fetch against the store, where parquet blooms /
        dictionary pages skip row groups that hold no page doc
        (`storeapi/grpc_fetch.go:42-216`; posting iteration in MID order,
        `frac/sealed_index.go:218-266`).

        Measured motivation (BASELINE.md §r15): on ~3 KB bodies this
        shape beats the tokens-at-rest column scan from ×10 on (0.28×)
        and stays ahead at ×100 (0.67×), while the in-plan routed
        semi-join returns to parity — only the two-phase plan's I/O is
        width-independent, which is the 100 TB text-search story.

        Residual conjuncts (r16): a query that is only PARTIALLY
        index-covered (e.g. ``text:alpha and not text:beta``) runs the
        covered conjuncts in phase 1 and the FULL predicate in phase 2,
        refilling with geometrically larger id pages until
        ``size + offset`` rows survive the re-filter or the postings are
        exhausted — the reference's own fetch-then-re-check shape
        (`storeapi/grpc_fetch.go:42-216` applies `FieldsFilter` after
        the fetch). Still bounded: the id page never exceeds
        ``MAX_SEARCH_DOCS``; if that cap underfills while postings
        remain, the method raises rather than silently truncating.

        Strictness (correctness over convenience — each would silently
        change results, so they raise instead):

        - at least one conjunct must be index-covered (an exact token,
          prefix wildcard or covered OR group at the top AND level) —
          otherwise there is no posting-only phase 1,
        - the index ``id_cols`` must be ``("mid", rid_col)`` — phase 1
          TakeOrders by ``id_cols``, which must agree with the engine's
          (mid, rid) search order (`seq/seq.go:37-90`; ms-granular
          windows apply exactly on the posting side),
        - ``default_dedup``, when set, must contain every id column —
          a dedup key coarser than the id would collapse rows AFTER
          pagination here but BEFORE it in :meth:`search`, underfilling
          pages without an error.

        The id-page ``isin`` reaches the parquet reader per-value
        (bloom + dictionary probes) only while
        ``spark.sql.parquet.pushdown.inFilterThreshold`` >= the page
        size — above it Spark degrades the push to a min/max RANGE,
        which random ids never prune. The operator OWNS that conf
        (r16): it raises the session threshold to cover its own page
        before returning, so the row-group-skipping win needs no
        deployment folklore. The raise is sticky session-wide and
        bounded by ``MAX_SEARCH_DOCS``; a larger In threshold only ever
        widens per-value pushdown, it cannot change results. Set
        ``table.own_in_filter_threshold = False`` (r17) to opt out and
        manage the threshold externally.

        ``after=(last_mid, last_rid)`` (r16) is the KEYSET cursor —
        resume strictly after that id, the deep-paging/export-resume
        shape of :meth:`search_after`: the cursor prunes the POSTING
        scan (phase 1 reads only ids past it) and re-filters the fetch,
        so page N of a wide-corpus drain stays width-independent
        instead of re-scanning O(cursor) documents. Mutually exclusive
        with ``offset``; ms-granular exactly like the posting mids.

        ``q`` may also be an already-parsed :class:`Query` (the router
        passes its own), which ``dialect`` then does not affect.
        """
        if size is None or size + offset > MAX_SEARCH_DOCS:
            raise ValueError(
                f"two_phase_search pages are bounded: size+offset must be "
                f"<= {MAX_SEARCH_DOCS}")
        if after is not None and offset:
            raise ValueError("after (keyset cursor) and offset are "
                             "mutually exclusive")
        if self._index is None:
            raise ValueError("two_phase_search requires attach_index()")
        index_df, _fields, id_cols, _stats, _max_sel, _bcast = self._index
        if self.rid_col not in id_cols:
            raise ValueError(
                f"index id_cols {tuple(id_cols)} must include rid_col "
                f"{self.rid_col!r} — the fetch pages by rid")
        if tuple(id_cols) != ("mid", self.rid_col):
            raise ValueError(
                f"index id_cols {tuple(id_cols)} must be "
                f"('mid', {self.rid_col!r}) — phase 1 TakeOrders by "
                f"id_cols, which must agree with the (mid, rid) search "
                f"order or pages silently diverge from search()")
        if self.default_dedup and not set(id_cols) <= set(self.default_dedup):
            raise ValueError(
                f"default_dedup {tuple(self.default_dedup)} is coarser "
                f"than id_cols {tuple(id_cols)}: search() dedups the full "
                f"match set before paginating, a page-local dedup would "
                f"underfill — use search()")
        query = q if isinstance(q, Query) else self.parse(q, dialect)
        pairs, wildcards, or_groups = self._index_conjuncts(query.root)
        if not (pairs or wildcards or or_groups):
            raise ValueError(
                "query has no index-covered conjunct; there is no "
                "posting-only phase 1 — use search()")
        fully_covered = self._index_covers(query.root)
        from .index import (
            matching_ids_multi,
            matching_ids_or,
            matching_ids_wildcard,
        )

        # same bucket-directory pruning as search(): a windowed query
        # must not list every time bucket of the index or the store
        bounds = self._bucket_bounds(from_ms, to_ms, index=True)
        if bounds is not None:
            index_df = index_df.filter(bounds)
        if from_ms is not None:
            index_df = index_df.filter(F.col("mid") >= F.lit(from_ms))
        if to_ms is not None:
            index_df = index_df.filter(F.col("mid") <= F.lit(to_ms))
        if after is not None:
            a_mid, a_rid = after
            im, ir = F.col("mid"), F.col(self.rid_col)
            if order == "desc":
                index_df = index_df.filter(
                    (im < F.lit(a_mid))
                    | ((im == F.lit(a_mid)) & (ir < F.lit(a_rid))))
            else:
                index_df = index_df.filter(
                    (im > F.lit(a_mid))
                    | ((im == F.lit(a_mid)) & (ir > F.lit(a_rid))))
        ids: Optional[DataFrame] = None

        def meet(nxt: DataFrame) -> DataFrame:
            # conjunct intersection stays on the narrow id frames
            return nxt if ids is None else ids.join(nxt, on=list(id_cols),
                                                    how="left_semi")

        if pairs:
            ids = meet(matching_ids_multi(index_df, pairs, id_cols))
        for fld, prefix, pat in wildcards:
            ids = meet(matching_ids_wildcard(index_df, fld, prefix, pat,
                                             id_cols))
        for leaves in or_groups:
            ids = meet(matching_ids_or(index_df, leaves, id_cols))
        sort = [F.col(c).desc() if order == "desc" else F.col(c).asc()
                for c in id_cols]
        spark = self.df.sparkSession
        thr_key = "spark.sql.parquet.pushdown.inFilterThreshold"

        def page_ids(k: int) -> list:
            page = ids.orderBy(*sort).limit(k).collect()
            rid_page = [row[self.rid_col] for row in page]
            # own the pushdown conf: per-value In push (bloom/dictionary
            # probes) only happens while the threshold covers the page.
            # Sticky session mutation by design (see
            # own_in_filter_threshold) — restore-after-return cannot
            # work because the conf is read at ACTION time, after this
            # method's lazy DataFrame has been handed back
            if self.own_in_filter_threshold:
                cur = int(spark.conf.get(thr_key, "10") or 10)
                if cur < len(rid_page):
                    spark.conf.set(thr_key, str(len(rid_page)))
            return rid_page

        def fetch(rid_page: list) -> DataFrame:
            # phase 2: one pushed-In fetch — rid blooms / dictionary
            # pages skip whole row groups; then <= page rows remain
            df = self.df
            bounds = self._bucket_bounds(from_ms, to_ms)
            if bounds is not None:
                df = df.filter(bounds)
            df = df.filter(F.col(self.rid_col).isin(rid_page))
            if from_ms is not None or to_ms is not None:
                mid = self._mid_col()
                if from_ms is not None:
                    df = df.filter(mid >= F.lit(from_ms))
                if to_ms is not None:
                    df = df.filter(mid <= F.lit(to_ms))
            if after is not None:
                a_mid, a_rid = after
                fm, fr = self._mid_col(), F.col(self.rid_col)
                if order == "desc":
                    df = df.filter(
                        (fm < F.lit(a_mid))
                        | ((fm == F.lit(a_mid)) & (fr < F.lit(a_rid))))
                else:
                    df = df.filter(
                        (fm > F.lit(a_mid))
                        | ((fm == F.lit(a_mid)) & (fr > F.lit(a_rid))))
            df = df.filter(compile_node(query.root, self.resolver))
            if self.default_dedup:
                df = df.dropDuplicates(list(self.default_dedup))
            return df

        need = size + offset
        if fully_covered:
            df = fetch(page_ids(need))
        else:
            # residual re-filter: over-fetch, count survivors, refill
            # geometrically (O(log MAX/need) bounded iterations)
            k = min(MAX_SEARCH_DOCS, max(2 * need, need + 64))
            while True:
                rid_page = page_ids(k)
                df = fetch(rid_page)
                exhausted = len(rid_page) < k
                if exhausted or df.count() >= need:
                    break
                if k >= MAX_SEARCH_DOCS:
                    raise ValueError(
                        f"residual conjuncts underfill even the maximum "
                        f"id page ({MAX_SEARCH_DOCS}) with postings "
                        f"remaining — use search()")
                k = min(MAX_SEARCH_DOCS, k * 2)
        df = df.orderBy(*self._sort_cols(order))
        if offset > 0:
            df = df.offset(offset)
        return self.apply_pipes(self._public(df.limit(size)), query.pipes)

    def _index_covers(self, node) -> bool:
        """True when the ENTIRE predicate decomposes into index-routable
        conjuncts — the precondition for posting-only id pages."""
        from .seqql.ast import Logical, LogicalOp

        if isinstance(node, Logical) and node.op is LogicalOp.AND:
            return all(self._index_covers(c) for c in node.children)
        if self._index_leaf(node) is not None:
            return True
        return self._or_leaves(node) is not None

    def _mid_col(self) -> Column:
        """Millisecond identity of ``ts_col`` (MID, `seq/seq.go:37-90`)."""
        dtype = dict(self.df.dtypes).get(self.ts_col, "")
        if dtype.startswith("timestamp"):
            return F.unix_millis(
                F.col(self.ts_col).cast("timestamp")
                if dtype == "timestamp_ntz"
                else F.col(self.ts_col)
            )
        return F.col(self.ts_col)

    def search_after(
        self,
        q: str = "*",
        last_ts_ms: Optional[int] = None,
        last_rid: Optional[int] = None,
        size: Optional[int] = 100,
        order: str = "desc",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        dialect: Optional[str] = None,
    ) -> DataFrame:
        """Keyset ("search after") pagination: resume strictly after the
        (ts, rid) cursor of the last doc on the previous page.

        The 100 TB path for deep paging/export: page N costs one pruned
        top-k scan instead of the O(offset) re-scan that offset pagination
        pays (the reference's iterative fraction search exists for exactly
        this reason, `fracmanager/searcher.go:50-123`). The cursor predicate
        on ``ts`` also prunes time partitions/row groups.

        r16: when width-aware two-phase routing is enabled
        (:meth:`attach_index` ``two_phase_min_doc_bytes``) and the
        cursor is complete, eligible pages route through
        :meth:`two_phase_search` with its keyset cursor — a wide-corpus
        export drain then reads postings + page rows per page instead
        of re-scanning wide documents. Same silent-fallback contract as
        :meth:`search`.
        """
        query = self.parse(q, dialect)
        if last_ts_ms is not None and last_rid is not None:
            routed = self._route_two_phase(
                query, from_ms, to_ms, size, 0, order, None,
                after=(last_ts_ms, last_rid),
            )
            if routed is not None:
                return routed
        df = self._filtered(query, from_ms, to_ms)
        if last_ts_ms is not None:
            # bare ts comparisons (not unix_millis(ts) wrappers) so the
            # cursor actually reaches PushedFilters — the whole point of
            # keyset paging at scale. ms-cursor semantics on a possibly
            # sub-ms column: "ms == last" ⟺ last ≤ ts < last+1.
            dtype = dict(self.df.dtypes).get(self.ts_col)
            if dtype == "timestamp":
                ts = F.col(self.ts_col)
                t0 = F.timestamp_millis(F.lit(last_ts_ms))
                t1 = F.timestamp_millis(F.lit(last_ts_ms + 1))
                lt, gt, eq = ts < t0, ts >= t1, (ts >= t0) & (ts < t1)
            else:
                ts_ms = F.unix_millis(F.col(self.ts_col))
                lt = ts_ms < F.lit(last_ts_ms)
                gt = ts_ms > F.lit(last_ts_ms)
                eq = ts_ms == F.lit(last_ts_ms)
            if order == "desc":
                cond = lt
                if last_rid is not None and self.rid_col:
                    cond = cond | (eq & (F.col(self.rid_col) < F.lit(last_rid)))
            else:
                cond = gt
                if last_rid is not None and self.rid_col:
                    cond = cond | (eq & (F.col(self.rid_col) > F.lit(last_rid)))
            df = df.filter(cond)
        df = df.orderBy(*self._sort_cols(order))
        if size is not None:  # None = unbounded (export-resume mode)
            df = df.limit(size)
        return self.apply_pipes(self._public(df), query.pipes)

    def apply_pipes(self, df: DataFrame, pipes: List[PipeFields]) -> DataFrame:
        """`fields a,b` / `fields except a,b` projection
        (reference `storeapi/grpc_fetch.go:170-216`).

        On a document store (a ``raw`` JSON column) the pipe filters the
        JSON text of each returned document, exactly like the reference's
        FieldsFilter on fetched docs; on a typed table it selects/drops
        columns (the columnar analog, oracle-verified)."""
        for p in pipes:
            if "raw" in df.columns:
                from .ingest import project_fields

                df = df.withColumn(
                    "raw", project_fields(F.col("raw"), list(p.fields), p.except_)
                )
                continue
            existing = set(df.columns)
            if p.except_:
                df = df.drop(*[f for f in p.fields if f in existing])
            else:
                keep = [f for f in p.fields if f in existing]
                df = df.select(*keep)
        return df

    def total(
        self,
        q: str = "*",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        dialect: Optional[str] = None,
    ) -> DataFrame:
        """`with_total` — match count independent of size
        (reference `frac/processor/search.go:95-116`). The lazy frame is
        plan-cached like :meth:`aggregate`."""
        key = (
            "total", q, from_ms, to_ms, dialect or self.dialect,
            tuple(self.default_dedup) if self.default_dedup else None,
        )

        def build() -> DataFrame:
            df = self._filtered(self.parse(q, dialect), from_ms, to_ms)
            return df.agg(F.count(F.lit(1)).alias("total"))

        return self._cached_plan(key, build)

    def fetch(self, ids_df: DataFrame, id_cols: Sequence[str]) -> DataFrame:
        """Fetch-by-ID as a broadcast left-semi join (reference
        `storeapi/grpc_fetch.go:42-216`; ID lists are small, the table is
        not — broadcast keeps it shuffle-free at 100 TB)."""
        return self._public(
            self.df.join(F.broadcast(ids_df), on=list(id_cols), how="left_semi")
        )

    def fetch_ids(self, ids: Sequence, id_col: str) -> DataFrame:
        return self._public(self.df.filter(F.col(id_col).isin(list(ids))))

    # ----------------------------------------------------------------- status

    def mapping_dict(self) -> Dict[str, object]:
        """Active mapping as field → type(s) — the Mapping endpoint
        (`proxyapi/grpc_mapping.go:9`)."""
        return mapping_dict(self.mapping)

    def explain(
        self,
        q: str = "*",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        dialect: Optional[str] = None,
    ) -> str:
        """Explain trace for a query — the analog of the reference's
        per-request explain output (`proxyapi/grpc_complex_search.go:34-60`
        attaches an explain tree to responses): the parsed AST plus Spark's
        full queryExecution trace (logical → optimized → physical), which
        shows whether predicates reached PushedFilters and whether the
        inverted index routed the query (LeftSemi)."""
        query = self.parse(q, dialect)
        df = self._filtered(query, from_ms, to_ms)
        # canonical echo: the normalized seq-ql form of the query, like the
        # server's SeqQLString round-trip (`parser/seqql.go:18-26`) — shows
        # the user exactly how both dialects were understood
        from .seqql.render import seqql_string

        canonical = seqql_string(query)
        return (
            f"Query: {canonical}\nAST: {query.root}\n"
            f"{df._jdf.queryExecution().toString()}"
        )

    def explain_tree(
        self,
        q: str = "*",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        dialect: Optional[str] = None,
    ) -> Dict[str, object]:
        """Structured explain: a span tree ``{message, duration_sec,
        children}`` — the shape of the reference's query tracer
        (`proxy/search/ingestor.go:576` builds nested ExplainEntry spans,
        `grpc_complex_search.go:58` attaches the root). Children time the
        actual phases: parse, predicate compilation + logical planning,
        and physical planning; the physical plan text rides in the last
        child so a gRPC client sees the same pushdown/routing evidence the
        string explain carries."""
        import time as _time

        from .seqql.render import seqql_string

        t_root = _time.perf_counter()
        children: List[Dict[str, object]] = []

        t0 = _time.perf_counter()
        query = self.parse(q, dialect)
        canonical = seqql_string(query)
        children.append(
            {
                "message": f"parse [{dialect or self.dialect}]: {canonical}",
                "duration_sec": _time.perf_counter() - t0,
                "children": [
                    {
                        "message": f"AST: {query.root}",
                        "duration_sec": 0.0,
                        "children": [],
                    }
                ],
            }
        )

        t0 = _time.perf_counter()
        df = self._filtered(query, from_ms, to_ms)
        children.append(
            {
                "message": "compile predicates + logical plan",
                "duration_sec": _time.perf_counter() - t0,
                "children": [],
            }
        )

        t0 = _time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan().toString()
        children.append(
            {
                "message": f"physical plan:\n{plan}",
                "duration_sec": _time.perf_counter() - t0,
                "children": [],
            }
        )
        return {
            "message": f"explain: {canonical}",
            "duration_sec": _time.perf_counter() - t_root,
            "children": children,
        }

    def status(self) -> Dict[str, object]:
        """Store status — doc count + time bounds, the Status endpoint
        analog (`proxyapi/grpc_status.go:12`, `proxy/search/ingestor.go:
        644-700` reports per-store oldest time). One aggregate scan of a
        plan-cached frame."""
        row = self._cached_plan(("status",), lambda: self.df.agg(
            F.count(F.lit(1)).alias("docs"),
            F.unix_millis(F.min(self.ts_col)).alias("oldest_ms"),
            F.unix_millis(F.max(self.ts_col)).alias("newest_ms"),
        )).collect()[0]
        return {
            "docs": row["docs"],
            "oldest_ms": row["oldest_ms"],
            "newest_ms": row["newest_ms"],
            "fields": self.mapping_dict(),
        }

    # -------------------------------------------------------------- histogram

    def histogram(
        self,
        q: str = "*",
        interval_ms: int = 60_000,
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        dialect: Optional[str] = None,
    ) -> DataFrame:
        """Date histogram: doc count per time bucket, bucket = MID - MID %
        interval (reference `frac/processor/search.go:169-179`,
        `seq/qpr.go:113-136`). Output: (bucket_ms BIGINT, cnt BIGINT)."""
        df = self._filtered(self.parse(q, dialect), from_ms, to_ms)
        ts_ms = F.unix_millis(F.col(self.ts_col))
        bucket = (ts_ms - ts_ms % F.lit(interval_ms)).alias("bucket_ms")
        return df.groupBy(bucket).agg(F.count(F.lit(1)).alias("cnt"))

    # ------------------------------------------------------------ aggregation

    def _field_scalar_or_explode(self, df: DataFrame, fieldname: str, out: str) -> DataFrame:
        """Attach one row per (doc, token-of-field); docs without the field
        keep a single row with NULL (NotExists accounting,
        `frac/processor/aggregator.go:77-117`)."""
        spec = self.resolver.resolve(fieldname)
        if spec.scalar is not None:
            return df.withColumn(out, spec.scalar())
        return df.withColumn(out, F.explode_outer(spec.tokens()))

    #: prepared-plan cache entries per table (search + aggregate shapes);
    #: LRU-evicted, never invalidated
    _PLAN_CACHE_CAP = 64
    def _cached_plan(self, key: tuple, build):
        """The prepared-plan cache: the cached construction for ``key``,
        else ``build()``'s.

        A table's file listing is fixed when it is built (Spark fixes a
        DataFrame's file index at analysis; the server builds one table
        per store snapshot), so a cached frame reads exactly what a fresh
        construction would. That is also why re-executing a cached frame
        may reuse its already-written shuffle output instead of
        rescanning. Nothing mutates a published table — a changed store
        or index yields a NEW table — so an entry never goes stale. A
        routed two-phase frame holds the id page its phase 1 collected
        while building; the index is as fixed as the listing, so the
        page is too, and the ``inFilterThreshold`` raise that build made
        is sticky, so it still holds when the cached frame runs.

        The returned frame is what the caller collects. Spark plans a
        QueryExecution once per Dataset, so anything derived from it
        (``.select``, ``.limit``, ``.head``) is a new Dataset that is
        analysed and planned again on every call: a projection or
        limit the caller needs belongs in ``build`` and in ``key``.

        Several requests may execute one cached frame at once. A frame
        whose execution also counts (the observed docs of
        :meth:`_complex_plan`) carries its own lock in what it built."""
        with self._plan_cache_lock:
            hit = self._plan_cache.get(key)
            if hit is not None:
                self._plan_cache.move_to_end(key)
                return hit[0]
        built = build()
        with self._plan_cache_lock:
            self._plan_cache[key] = (built,)
            while len(self._plan_cache) > self._PLAN_CACHE_CAP:
                self._plan_cache.popitem(last=False)
        return built

    @staticmethod
    def _agg_key(aggq: AggQuery) -> tuple:
        return (
            aggq.func.lower(), aggq.field, aggq.group_by,
            tuple(aggq.quantiles or ()), aggq.interval_ms,
            bool(aggq.exact_quantiles),
        )

    def aggregate(
        self,
        aggq: AggQuery,
        q: str = "*",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        strict: bool = False,
        dialect: Optional[str] = None,
    ) -> DataFrame:
        """One aggregation over the filtered set (reference
        `frac/processor/aggregator.go:34-346`, finalize `seq/qpr.go:199-314`).

        Output schema (stable): ``mid_ms BIGINT`` (time bin start; NULL
        without interval), ``name STRING`` (group token; NULL when no
        group_by; the legacy ``_not_exists`` bucket name for count),
        ``value DOUBLE`` (NaN for buckets with zero parsed samples,
        `seq/qpr.go:288-290`), ``not_exists BIGINT`` (docs in this group
        whose agg field is missing → bucket NotExists,
        `frac/processor/aggregator.go:83-87`), plus ``q0..qN`` DOUBLE for
        quantile requests. Result-level NotExists: :meth:`agg_not_exists`.

        ``strict=True`` reproduces fail-on-first-unparsable-token
        (`aggregator.go:150-157`); the default skips unparsable tokens
        (cheaper at scale; both modes pinned in tests).

        This is the ``size=0, aggs=(aggq,)`` case of
        :meth:`complex_search`: the same plan-cached construction and
        fused job. Its ErrTooManyUniqValues guards
        (`frac/processor/eval_tree.go:78-85`) use the module limits
        ``AGG_MAX_GROUP_TOKENS`` and ``AGG_MAX_FIELD_TOKENS``, read when
        the construction is built. The buckets come back in the reference
        order (`seq/qpr.go:216-253`) as a LocalRelation.
        """
        _, _, fused, _ = self._complex_plan(
            q, from_ms, to_ms, 0, 0, "desc", False, None, (aggq,), strict,
            dialect, None, None,
        )
        (data,) = self._fused_execute(fused)
        return _bucket_frame(
            fused.frame.sparkSession, fused.branches[0].names, data)

    @staticmethod
    def _confirm_field_guard(df, fieldname, max_field_tokens) -> None:
        """The per-bucket __ftok sum is only an UPPER bound on the global
        distinct count (a token may occur in many buckets) — confirm with
        one real pass before failing the request."""
        n_f = df.agg(
            F.approx_count_distinct("__fieldtok").alias("n")
        ).head()["n"]
        if n_f > max_field_tokens:
            raise TooManyUniqValuesError(
                f"field {fieldname!r} has ~{n_f} unique tokens > "
                f"{max_field_tokens} (--agg-max-field-tokens)"
            )

    @staticmethod
    def _bucket_sort_key(func: str, cols: Sequence[str]):
        """Python mirror of :meth:`bucket_order_cols` for driver-side
        ordering of the fused job's bucket rows. Property-tested against
        the Spark exprs in ``test_bucket_sort_key_matches_order_buckets``."""
        i_mid = cols.index("mid_ms")
        i_name = cols.index("name")
        i_val = cols.index("value")

        def key(row):
            mid, name, val = row[i_mid], row[i_name], row[i_val]
            midk = (0, 0) if mid is None else (1, mid)
            namek = (0, "") if name is None else (1, name)
            nan = val is None or (isinstance(val, float) and math.isnan(val))
            # inside the NaN group every value is equal; collapse so the
            # next key breaks ties deterministically (matches the Spark
            # side's `eff`)
            eff = 0.0 if nan else float(val)
            flag = 1 if nan else 0
            if func == "min":
                # value ASC, NaN strictly below all numbers → NaN first
                return (midk, -flag, eff, namek)
            if func == "quantile":
                return (midk, namek, flag, -eff)
            # default: value DESC → NaN last
            return (midk, flag, -eff, namek)

        return key

    @staticmethod
    def bucket_order_cols(func: str) -> List[Column]:
        """Reference bucket ordering (`seq/qpr.go:216-253` sortBuckets):
        time bin ascending first, then — default: value DESC, name ASC;
        MIN: value ASC, name ASC; QUANTILE: name ASC, value DESC.

        Go's cmp.Compare orders NaN STRICTLY below every number including
        -Infinity; Spark sorts NaN ABOVE all doubles. Sort on two keys — an
        is-NaN/NULL flag first, then the raw value — so NaN buckets land
        past genuine -Infinity values instead of tying with them (ties
        inside the NaN group still break by name)."""
        mid = F.col("mid_ms").asc_nulls_first()
        is_nan = F.col("value").isNull() | F.isnan("value")
        # inside the NaN group every value is equal; collapse so the next
        # key (name) breaks ties deterministically
        eff = F.when(is_nan, F.lit(0.0)).otherwise(F.col("value"))
        flag = is_nan.cast("int")
        name = F.col("name").asc_nulls_first()
        if func == "min":
            # value ASC → NaN below all numbers sorts FIRST
            return [mid, flag.desc(), eff.asc(), name]
        if func == "quantile":
            return [mid, name, flag.asc(), eff.desc()]
        # default: value DESC → NaN sorts LAST
        return [mid, flag.asc(), eff.desc(), name]

    def agg_not_exists(
        self,
        aggq: AggQuery,
        q: str = "*",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        dialect: Optional[str] = None,
    ) -> DataFrame:
        """Result-level NotExists counter (one row, ``not_exists BIGINT``):
        count/unique — docs whose group token is missing
        (`aggregator.go:199-201,260-262`); field aggs — docs whose field is
        present but group is missing (`aggregator.go:89-93` groupNotExists),
        or whose field is missing when there is no group_by
        (`aggregator.go:285-346` no-group path)."""
        func = aggq.func.lower()
        group_by = aggq.group_by
        fieldname = aggq.field
        if func in ("count", "unique") and group_by is None:
            group_by, fieldname = fieldname, None
        df = self._filtered(self.parse(q, dialect), from_ms, to_ms)
        if func in ("count", "unique"):
            if group_by is None:
                return df.limit(0).agg(F.count(F.lit(1)).alias("not_exists"))
            df = self._field_scalar_or_explode(df, group_by, "__group")
            miss = df.filter(F.col("__group").isNull())
        else:
            if fieldname is None:
                raise ValueError(f"agg func {func!r} requires a field")
            df = self._field_scalar_or_explode(df, fieldname, "__fieldtok")
            if group_by is not None:
                df = self._field_scalar_or_explode(df, group_by, "__group")
                miss = df.filter(
                    F.col("__group").isNull() & F.col("__fieldtok").isNotNull()
                )
            else:
                miss = df.filter(F.col("__fieldtok").isNull())
        return miss.agg(F.count(F.lit(1)).alias("not_exists"))

    # ---------------------------------------------------------- ComplexSearch

    def complex_search(
        self,
        q: str = "*",
        from_ms: Optional[int] = None,
        to_ms: Optional[int] = None,
        size: Optional[int] = 0,
        offset: int = 0,
        order: str = "desc",
        with_total: bool = False,
        hist_interval_ms: Optional[int] = None,
        aggs: Sequence[AggQuery] = (),
        strict: bool = False,
        dialect: Optional[str] = None,
        columns: Optional[Sequence[str]] = None,
    ) -> "ComplexSearchResult":
        """One request → docs + total + histogram + N aggregations
        (reference `proxyapi/grpc_complex_search.go:14-60`; the store
        feeds all of them from one pass over the eval tree,
        `frac/processor/search.go:71-85,196-204`).

        ONE plan-cached construction (:meth:`_complex_plan`, which
        :meth:`search` and :meth:`aggregate` share) holds the route, the
        lazy docs top-k and a fused aggregate computing total, histogram
        and every aggregation in a single job (:meth:`_fused_build`).
        Both run here and every branch comes back as a driver-side value:
        ``docs`` as the collected rows, projected to ``columns`` when given
        (as in :meth:`search`). The fused guards (the module limits
        ``AGG_MAX_GROUP_TOKENS`` and ``AGG_MAX_FIELD_TOKENS``) are checked
        on the driver. Nothing is persisted, so there is nothing to
        release.

        Scanned docs whose total would be the fused job's only branch
        count it themselves (:meth:`_complex_plan`). Every execution of
        the cached docs frame resets and fills one count, so it is
        collected and read under the construction's lock: identical
        concurrent requests take turns, no other request waits. A page
        shorter than ``size`` (with rows, or at offset 0) is its own
        total: ``offset`` plus its rows. Otherwise the count is used only
        when the plan that ran counted each match once
        (:func:`_counted_once`), and else the fused total of the same
        request without docs answers.

        Validation mirrors `grpc_complex_search.go:20-22`: at least one of
        docs (size>0), with_total, histogram or aggs must be requested.
        """
        if not (size or with_total or hist_interval_ms or aggs):
            raise ValueError(
                "complex search requires size > 0, with_total, a histogram "
                "interval or at least one aggregation"
            )
        route, docs, fused, lock = self._complex_plan(
            q, from_ms, to_ms, size, offset, order, with_total,
            hist_interval_ms, aggs, strict, dialect, columns, None,
        )
        res = ComplexSearchResult(None, route)
        if fused is not None:
            for br, out in zip(fused.branches, self._fused_execute(fused)):
                if br.func == "total":
                    res.total_count = out
                elif br.func == "hist":
                    res.histogram_rows = out
                else:
                    res.agg_buckets.append(
                        [dict(zip(br.names, t)) for t in out])
        if lock is None:
            if docs is not None:
                res.docs = docs.collect()
            return res
        with lock:
            res.docs = docs.collect()
            n = len(res.docs)
            if n < size and (n or not offset):
                # a short page holds every match past the offset (its one
                # pipe, `fields`, keeps the row count)
                res.total_count = offset + n
            elif _counted_once(docs):
                res.total_count = docs._jdf.queryExecution() \
                    .observedMetrics().apply(_TOTAL_METRIC).getLong(0)
        if res.total_count is None:
            _, _, fused, _ = self._complex_plan(
                q, from_ms, to_ms, 0, 0, "desc", True, None, (), strict,
                dialect, None, None,
            )
            (res.total_count,) = self._fused_execute(fused)
        return res

    def _complex_plan(
        self, q, from_ms, to_ms, size, offset, order, with_total,
        hist_interval_ms, aggs, strict, dialect, columns, dedup_cols,
    ) -> tuple:
        """The plan-cached ``(route, docs, fused, lock)`` construction of
        one request, keyed on every request field, dialect, dedup and the
        docs projection. The query is parsed once per construction, and a
        hit parses nothing.

        ``docs`` is the lazy top-k (every match for ``size=None``),
        served two-phase when :meth:`_route_two_phase` takes it, else by
        the scan; ``route`` names which ("two_phase" or "scan"). Both are
        ``None`` when ``size`` is 0 and another branch is requested.
        ``fused`` is :meth:`_fused_build`'s aggregate (``None`` when no
        branch is left for it). A routed frame embeds the id page phase 1
        collected while building; it is cached like the rest, because a
        table's listing and index never change.

        When the total is the only fused branch and the scan serves a
        page of docs, the docs execution counts it instead: ``observe``
        puts a count on the filtered, deduplicated rows below the top-k,
        no fused aggregate is built, and ``lock`` (else ``None``) is the
        lock :meth:`complex_search` collects and reads the count under.
        The total stays a fused branch when that removes no job or the
        docs do not read every match:

        - a histogram or an aggregation: the fused job runs anyway, and a
          branch on it costs less than the observation (a cached
          dashboard-shaped ``/complex`` with docs, 4-core host: ~15 ms
          more CPU per request observed);
        - routed docs: the fetch reads only the id page, not every match;
        - ``size=0``: there are no docs (``limit(0)`` would fold the
          observation away);
        - ``size=None``: every match is one global sort, whose range
          shuffle samples its input in a job of its own and would count
          every row twice."""
        if size is not None and size > MAX_SEARCH_DOCS:
            raise ValueError(f"size {size} exceeds max-search-docs {MAX_SEARCH_DOCS}")
        key = (
            "complex", q, from_ms, to_ms, size, offset, order,
            bool(with_total), hist_interval_ms,
            tuple(self._agg_key(aq) for aq in aggs), strict,
            dialect or self.dialect,
            tuple(dedup_cols) if dedup_cols is not None else None,
            tuple(self.default_dedup) if self.default_dedup else None,
            tuple(columns) if columns is not None else None,
        )
        want_fused = bool(with_total or hist_interval_ms or aggs)

        def build() -> tuple:
            query = self.parse(q, dialect)
            route = docs = base = fused = lock = None
            if size != 0 or not want_fused:
                docs = self._route_two_phase(
                    query, from_ms, to_ms, size, offset, order, dedup_cols)
                route = "scan" if docs is None else "two_phase"
            if route == "scan" or want_fused:
                base = self._filtered(query, from_ms, to_ms, dedup_cols)
            fused_total = with_total
            if route == "scan":
                rows = base
                if with_total and size and not (hist_interval_ms or aggs):
                    rows = base.observe(
                        _TOTAL_METRIC, F.count(F.lit(1)).alias("total"))
                    fused_total, lock = False, threading.Lock()
                docs = self.apply_pipes(self._public(
                    self._paginate(rows, size, offset, order)), query.pipes)
            if docs is not None:
                docs = _project(docs, columns)
            if fused_total or hist_interval_ms or aggs:
                fused = self._fused_build(
                    base, fused_total, hist_interval_ms, aggs, strict)
            return route, docs, fused, lock

        return self._cached_plan(key, build)

    def _fused_build(
        self,
        df: DataFrame,
        with_total: bool,
        hist_interval_ms: Optional[int],
        aggs: Sequence[AggQuery],
        strict: bool,
    ) -> _FusedBuilt:
        """Total, histogram and every aggregation as ONE branch-tagged
        aggregate over ``df``: each row becomes one ``(b, mid, grp, tok)``
        struct per bucket contribution to branch ``b`` (token arrays via
        ``transform``, explode_outer style: a NULL or empty array yields
        one NULL token), inlined and grouped once on ``(b, mid, grp)``.

        The bucket rules (`frac/processor/aggregator.go:77-283`): a count
        branch keeps missing-group docs as ``grp`` NULL / mid NULL — the
        legacy ``_not_exists`` bucket, apart from a REAL token of that
        spelling; unique and grouped field aggs drop missing-group rows
        (strict mode keeps them so their unparsable tokens still fail);
        an ungrouped field agg drops missing-field rows.

        Guards use the module limits ``AGG_MAX_GROUP_TOKENS`` and
        ``AGG_MAX_FIELD_TOKENS`` as they are now. Group guards bound the
        shipped rows in the same job: a per-branch ``dense_rank`` of the
        real group names keeps cap+1 of them at most (``_not_exists``
        never counts), the exact count rides along as a window max. The
        field guard's HLL and strict mode's unparsable sample are columns
        of the same aggregate. No job runs here."""
        from pyspark.sql import Window

        max_group_tokens = AGG_MAX_GROUP_TOKENS
        max_field_tokens = AGG_MAX_FIELD_TOKENS

        null_l = F.lit(None).cast("long")
        null_s = F.lit(None).cast("string")
        ts_ms = F.unix_millis(F.col(self.ts_col))

        def row(b, mid=null_l, grp=null_s, tok=null_s) -> Column:
            return F.struct(F.lit(b).alias("b"), mid.alias("mid"),
                            grp.alias("grp"), tok.alias("tok"))

        def each(fieldname: str, fn) -> Column:
            spec = self.resolver.resolve(fieldname)
            if spec.scalar is not None:
                return F.array(fn(spec.scalar()))
            t = spec.tokens()
            return F.transform(
                F.when(F.size(t) > 0, t).otherwise(F.array(null_s)), fn)

        branches: List[_Branch] = []
        parts: List[Column] = []
        drop_grp: List[int] = []   # branches without a missing-group bucket
        drop_tok: List[int] = []   # branches without a missing-field bucket
        if with_total:
            branches.append(_Branch("total"))
            parts.append(F.array(row(0)))
        if hist_interval_ms:
            parts.append(F.array(row(
                len(branches), ts_ms - ts_ms % F.lit(hist_interval_ms))))
            branches.append(_Branch("hist"))
        for aq in aggs:
            validate_agg(aq)
            b, func = len(branches), aq.func.lower()
            group_by, fieldname = aq.group_by, aq.field
            if func in ("count", "unique"):  # field: legacy group alias
                group_by, fieldname = group_by or fieldname, None
            is_field = fieldname is not None
            mid = (ts_ms - ts_ms % F.lit(aq.interval_ms) if aq.interval_ms
                   else null_l)
            if not is_field:
                parts.append(each(
                    group_by, lambda g: row(b, F.when(g.isNotNull(), mid), g)))
                if func == "unique":
                    drop_grp.append(b)
            elif group_by is not None:
                parts.append(F.flatten(each(group_by, lambda g: each(
                    fieldname, lambda f: row(b, mid, g, f)))))
                if not strict:
                    drop_grp.append(b)
            else:
                parts.append(each(fieldname, lambda f: row(b, mid, tok=f)))
                drop_tok.append(b)
            branches.append(_Branch(
                func, group_by, fieldname,
                tuple(aq.quantiles) if func == "quantile" else (),
                bool(aq.exact_quantiles), bool(aq.interval_ms),
                is_field and max_field_tokens > 0, strict and is_field,
            ))

        ex = df.select(F.inline(
            F.concat(*parts) if len(parts) > 1 else parts[0]))
        bcol, grp, tok = F.col("b"), F.col("grp"), F.col("tok")
        drops = [bcol.isin(ids) & c.isNull()
                 for ids, c in ((drop_grp, grp), (drop_tok, tok)) if ids]
        if drops:
            ex = ex.filter(~functools.reduce(operator.or_, drops))
        fields = [(i, br) for i, br in enumerate(branches) if br.fieldname]
        cols = [F.count(F.lit(1)).alias("cnt")]
        if fields:
            ex = ex.withColumn("val", _parsed_num(tok))
            val = F.col("val")
            cols.append(F.count(val).alias("n"))
            funcs = {br.func for _, br in fields}
            cols += [fn(val).alias(name) for name, fn in (
                ("sum", F.sum), ("min", F.min), ("max", F.max), ("avg", F.avg)
            ) if name in funcs]
            for i, br in fields:
                pct = F.percentile if br.exact_quantiles else F.percentile_approx
                cols += [pct(F.when(bcol == i, val), float(qv)).alias(f"q{i}_{j}")
                         for j, qv in enumerate(br.quantiles)]
            guarded = [i for i, br in fields if br.field_guard]
            if guarded:
                cols.append(F.approx_count_distinct(
                    F.when(bcol.isin(guarded), tok)).alias("ftok"))
            cols.append(F.count(F.when(tok.isNull(), F.lit(1))).alias("ne"))
            if strict:
                cols.append(F.max(F.when(tok.isNotNull() & val.isNull(), tok))
                            .alias("bad"))
        out = ex.groupBy("b", "mid", "grp").agg(*cols)
        cut = [i for i, br in enumerate(branches) if br.group_by]
        if cut:
            isne = grp.isNull() | (grp == "_not_exists")
            whole = Window.partitionBy("b")
            out = out.withColumn(
                "rank", F.dense_rank().over(whole.orderBy(isne, grp)))
            out = out.withColumn(
                "ngroups", F.max(F.when(~isne, F.col("rank"))).over(whole))
            if fields and strict:  # the sample must survive the cut
                out = out.withColumn("bad", F.max("bad").over(whole))
            out = out.filter(isne | (F.col("rank") <= max_group_tokens + 1)
                             | ~bcol.isin(cut))
        return _FusedBuilt(out, branches, df, max_group_tokens, max_field_tokens)

    def _fused_execute(self, fused: _FusedBuilt) -> list:
        """Run the fused job (ONE collect) and split it per branch: the
        total, ``(bucket_ms, cnt)`` histogram rows, and per agg its bucket
        tuples in ``_Branch.names`` order, sorted in the reference bucket
        order. Guards are checked per branch in request order: strict
        parse, then the group guard, then the field guard (whose confirm
        pass runs only on a breach)."""
        per: List[list] = [[] for _ in fused.branches]
        for r in fused.frame.collect():
            per[r["b"]].append(r)
        out: list = []
        nan, cap = float("nan"), fused.max_group_tokens
        for b, (br, rows) in enumerate(zip(fused.branches, per)):
            if br.func == "total":
                out.append(rows[0]["cnt"] if rows else 0)
                continue
            if br.func == "hist":
                # a NULL timestamp is its own bucket, ordered first
                out.append(sorted(
                    ((r["mid"], r["cnt"]) for r in rows),
                    key=lambda t: (t[0] is not None, t[0] or 0)))
                continue
            bad = max((r["bad"] for r in rows
                       if br.strict and r["bad"] is not None), default=None)
            if bad is not None:
                raise AggParseError(f"parse errors reached, last_value={bad!r}")
            if br.group_by and rows and (rows[0]["ngroups"] or 0) > cap:
                n = rows[0]["ngroups"]
                if not br.timeseries:  # n counts `_not_exists` buckets too
                    n += sum(1 for r in rows if r["grp"] == "_not_exists"
                             or (r["grp"] is None and not br.fieldname))
                raise TooManyUniqValuesError(
                    f"group_by {br.group_by!r} has {n} unique tokens > {cap}")
            if br.fieldname and br.group_by:
                rows = [r for r in rows if r["grp"] is not None]
            if br.field_guard and (sum(r["ftok"] or 0 for r in rows)
                                   > fused.max_field_tokens):
                self._confirm_field_guard(
                    self._field_scalar_or_explode(
                        fused.src, br.fieldname, "__fieldtok"),
                    br.fieldname, fused.max_field_tokens)
            data = []
            for r in rows:
                name = r["grp"]
                qs = [r[f"q{b}_{j}"] for j in range(len(br.quantiles))]
                if br.func == "count":
                    name = "_not_exists" if name is None else name
                    value, ne = float(r["cnt"]), 0
                elif br.func == "unique":
                    value, ne = 0.0, 0
                else:
                    value = nan if r["n"] == 0 else (qs[0] if qs else r[br.func])
                    ne = r["ne"] if br.group_by else 0
                tail = (ne, value) if qs and br.group_by else (value, ne)
                data.append((r["mid"], name, *qs, *tail))
            data.sort(key=self._bucket_sort_key(br.func, br.names))
            out.append(data)
        return out


@dataclass
class ComplexSearchResult:
    """Branches of one ComplexSearch request, every one a driver-side
    value. ``docs`` holds the collected top-k rows and ``route`` the plan
    that served them ("two_phase" or "scan", a value of this request
    alone). ``total_count`` was counted by the fused job or, when it was
    that job's only branch, by the scanned docs execution. The fused job
    gave ``histogram_rows`` as ascending
    ``(bucket_ms, cnt)`` and ``agg_buckets`` as one list of bucket dicts
    per agg in reference bucket order (the columns of
    :meth:`SearchTable.aggregate`). Unrequested branches stay
    ``None``/empty."""

    docs: Optional[List[Row]]
    route: Optional[str]
    total_count: Optional[int] = None
    histogram_rows: Optional[List[Tuple[Optional[int], int]]] = None
    agg_buckets: List[List[Dict[str, object]]] = dc_field(default_factory=list)
