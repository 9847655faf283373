"""Property-based parity tests (hypothesis): the Spark tokenizer and range
predicates agree with direct Python models of the reference semantics on
randomized inputs. Each example batch runs as ONE Spark job over a list of
generated strings, keeping runtime bounded."""

import re

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from seqspark.compile import parses_as_number

# alphabet chosen to exercise boundaries (runs, multi-byte UTF-8 vs byte
# caps, '*'/'_' retention) while avoiding chars where Java and Python
# disagree on \p{N}/lower() (e.g. Nl/No numerals, dotted-I)
ALPHABET = (
    "abcxyz XYZ 0189 _*-,.!/:"  # ascii letters/digits/retained/separators
    "äßéñ"                      # 2-byte UTF-8 letters
    "日本語中"                   # 3-byte CJK letters
)

texts = st.lists(
    st.text(alphabet=ALPHABET, min_size=0, max_size=120), min_size=1, max_size=24
)


def model_text_tokens(s: str, max_token: int = 72) -> list:
    """Python model of `tokenizer/text_tokenizer.go:27-106`: runs of
    letter/digit/'_'/'*', folded, per-token byte cap, empty value → ['']."""
    if len(s) == 0:
        return [""]
    toks = re.split(r"[^\w*]+", s.lower(), flags=re.UNICODE)
    return [t for t in toks if t and len(t.encode("utf-8")) <= max_token]


@settings(max_examples=8, deadline=None)
@given(texts)
def test_text_tokenizer_matches_python_model(spark, samples):
    from seqspark.tokenize import text_tokens

    df = spark.createDataFrame([(i, s) for i, s in enumerate(samples)], "i int, s string")
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", text_tokens(F.col("s")).alias("toks")).collect()
    }
    for i, s in enumerate(samples):
        assert got[i] == model_text_tokens(s), repr(s)


printable = st.text(
    alphabet=st.characters(
        codec="utf-8", exclude_categories=("Cs", "Cc", "Cn")
    ),
    min_size=1,
    max_size=40,
)


def quote_single(v: str) -> str:
    """Quote a value for seq-ql single quotes: escape backslash, the quote,
    and `*` (so the literal stays a literal, `parser/seqql.go:276-292`)."""
    out = []
    for ch in v:
        if ch in ("\\", "'", "*"):
            out.append("\\" + ch)
        elif ch == "\n":
            out.append("\\n")
        elif ch == "\r":
            out.append("\\r")
        else:
            out.append(ch)
    return "'" + "".join(out) + "'"


@settings(max_examples=200, deadline=None)
@given(printable)
def test_quoting_roundtrip(v):
    """parse(field:'<escaped v>') must recover v exactly as one literal —
    the lexer's unquote is the inverse of quoting for any printable text."""
    from seqspark.mapping import AutoMapping
    from seqspark.seqql.parser import parse

    q = "f:" + quote_single(v)
    lit = parse(q, AutoMapping()).root
    assert [t.data for t in lit.terms] == [v.lower()]
    assert not any(t.is_wildcard for t in lit.terms)


paths = st.lists(
    st.text(alphabet="abc0/ _.", min_size=0, max_size=40), min_size=1, max_size=16
)


def model_path_tokens(s: str, max_token: int = 72) -> list:
    """Python model of `tokenizer/path_tokenizer.go:32-70`: every proper
    '/'-prefix plus the full folded value; oversized values skipped."""
    if len(s.encode("utf-8")) > max_token:
        return []
    folded = s.lower()
    parts = folded.split("/")
    prefixes = []
    for i in range(1, len(parts)):
        p = "/".join(parts[:i])
        if p:
            prefixes.append(p)
    return prefixes + [folded]


@settings(max_examples=8, deadline=None)
@given(paths)
def test_path_tokenizer_matches_python_model(spark, samples):
    from seqspark.tokenize import path_tokens

    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i int, s string"
    )
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", path_tokens(F.col("s")).alias("toks")).collect()
    }
    for i, s in enumerate(samples):
        assert got[i] == model_path_tokens(s), repr(s)


range_tokens = st.lists(
    st.one_of(
        st.text(alphabet="abc019.-+e", min_size=0, max_size=12),
        st.floats(allow_nan=False, allow_infinity=False, width=32).map(str),
        st.integers(-10**6, 10**6).map(str),
    ),
    min_size=1,
    max_size=24,
)
bounds = st.one_of(
    st.integers(-1000, 1000).map(str), st.text(alphabet="ab1.", min_size=1, max_size=4)
)


def model_range_match(tok, lo, hi, inc_lo=True, inc_hi=True):
    """`pattern/pattern.go:157-262`: numeric compare when both bounds and
    the token parse as finite Go floats, else lexicographic."""
    lo_n, hi_n = parses_as_number(lo), parses_as_number(hi)
    if lo_n is not None and hi_n is not None:
        t = parses_as_number(tok)
        if t is None:
            return False
        return (t >= lo_n if inc_lo else t > lo_n) and (
            t <= hi_n if inc_hi else t < hi_n
        )
    return (tok >= lo if inc_lo else tok > lo) and (
        tok <= hi if inc_hi else tok < hi
    )


@settings(max_examples=8, deadline=None)
@given(range_tokens, bounds, bounds)
def test_range_predicate_matches_python_model(spark, toks, lo, hi):
    from seqspark import SearchTable

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(toks)], "i int, v string"
    ).withColumn("ts", F.timestamp_millis(F.col("i")))
    stbl = SearchTable.from_typed(
        df, {"v": "keyword"}, ts_col="ts", rid_col="i", case_sensitive=True
    )
    try:
        pred = stbl.predicate(f"v:['{lo}', '{hi}']")
    except Exception:
        return  # bound strings the grammar rejects are out of scope here
    got = {r["i"] for r in df.filter(pred).select("i").collect()}
    want = {i for i, t in enumerate(toks) if model_range_match(t, lo, hi)}
    assert got == want, (lo, hi, toks)


# corpora of small docs built from a tiny paragraph vocabulary so
# cross-document duplicates are frequent
para_vocab = st.sampled_from(
    ["alpha beta", "gamma", "delta epsilon zeta", "eta", "theta iota kappa"]
)
docs_corpus = st.lists(
    st.lists(para_vocab, min_size=1, max_size=5), min_size=1, max_size=8
)


def model_paragraph_dedup(corpus):
    """Python model: first (doc, pos) occurrence of each paragraph wins."""
    seen = set()
    out = {}
    for doc_id, paras in enumerate(corpus):
        kept = []
        for p in paras:
            if p not in seen:
                seen.add(p)
                kept.append(p)
        out[doc_id] = "\n\n".join(kept)
    return out


@settings(max_examples=8, deadline=None)
@given(docs_corpus)
def test_paragraph_dedup_matches_python_model(spark, corpus):
    from seqspark.pipeline.dedup import paragraph_dedup

    df = spark.createDataFrame(
        [(i, "\n\n".join(paras)) for i, paras in enumerate(corpus)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["text"]
        for r in paragraph_dedup(df, "doc_id").collect()
    }
    assert got == model_paragraph_dedup(corpus)


def test_incremental_dedup_matches_reference(spark):
    """Property (randomized fixed-seed corpus): incremental_dedup equals
    a brute-force python reference — batch doc survives iff its text is
    not in the corpus and it has the lowest id among batch docs sharing
    that text."""
    import random

    from seqspark.pipeline.dedup import corpus_digests, incremental_dedup

    rng = random.Random(41)
    vocab = [f"t{i}" for i in range(12)]
    def text():
        return " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 4)))

    for trial in range(4):
        corpus_rows = [(i, text()) for i in range(rng.randint(0, 15))]
        batch_rows = [(100 + i, text()) for i in range(rng.randint(1, 25))]
        corpus = spark.createDataFrame(
            corpus_rows or [(0, "seed corpus doc")], "doc_id long, text string"
        )
        batch = spark.createDataFrame(batch_rows, "doc_id long, text string")
        got = {r["doc_id"]
               for r in incremental_dedup(batch, corpus_digests(corpus)).collect()}
        seen = {t for _, t in (corpus_rows or [(0, "seed corpus doc")])}
        first = {}
        for i, t in sorted(batch_rows):
            if t not in seen and t not in first:
                first[t] = i
        assert got == set(first.values()), f"trial {trial}"


@settings(max_examples=200, deadline=None)
@given(
    body=st.one_of(
        st.binary(max_size=512),
        st.binary(max_size=64).map(
            lambda b: b"\x1f\x8b" + b  # gzip magic + garbage tail
        ),
    ),
    gzipped=st.booleans(),
)
def test_bulk_parse_total_error_contract(body, gzipped):
    """parse_bulk_body over arbitrary bytes either returns a BulkResult or
    raises BadBulkRequest — never a raw gzip/unicode/json exception. The
    HTTP handler relies on this split: BadBulkRequest -> 400 without
    touching circuit-breaker health, anything else -> 500 + breaker."""
    from seqspark.bulk import BadBulkRequest, BulkResult, parse_bulk_body

    try:
        res = parse_bulk_body(body, gzipped=gzipped)
    except BadBulkRequest:
        return
    assert isinstance(res, BulkResult)
    assert len(res.items) >= len(res.docs)


auto_docs = st.lists(
    st.dictionaries(
        st.text(alphabet="abcxyz_", min_size=1, max_size=8).filter(
            lambda k: k not in ("timestamp", "time", "ts", "original_timestamp")
        ),
        st.one_of(
            st.text(alphabet=ALPHABET, min_size=0, max_size=20),
            st.integers(-10**6, 10**6),
            st.booleans(),
        ),
        max_size=5,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None)
@given(auto_docs)
def test_auto_mapping_ingest_matches_python_model(spark, docs):
    """--mapping=auto tokenizes every top-level field as keyword: parity
    with a Python model (json value -> literal text -> case-folded,
    72-byte cap), including numbers and booleans as their JSON text."""
    import json as _json

    from seqspark.ingest import ingest_docs
    from seqspark.mapping import AutoMapping

    raws = [(_json.dumps(d),) for d in docs]
    frame = ingest_docs(
        spark.createDataFrame(raws, "raw string"),
        AutoMapping(),
        allowed_drift_ms=10**15,
        future_drift_ms=10**15,
    )
    got = [dict(r["tokens"] or {}) for r in frame.collect()]

    def model(d):
        out = {}
        for k, v in d.items():
            if isinstance(v, bool):
                text = "true" if v else "false"
            else:
                text = str(v)
            text = text.lower()
            if len(text.encode()) <= 72:
                out[k] = [text]
            else:
                out[k] = []
        return out

    for d, g in zip(docs, got):
        assert g == model(d), (d, g)


# arbitrary JSON values, nested to depth 3 (the reference fuzzes its
# ingest with RandomDocJSON the same way, `tests/setup/doc_test.go:33`)
_JSON_LEAF = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(min_value=-(10**12), max_value=10**12),
    st.floats(allow_nan=False, allow_infinity=False, width=32),
    st.text(max_size=12),
)
_JSON_VAL = st.recursive(
    _JSON_LEAF,
    lambda children: st.one_of(
        st.lists(children, max_size=3),
        st.dictionaries(st.text(min_size=1, max_size=6), children,
                        max_size=3),
    ),
    max_leaves=8,
)
_RANDOM_DOC = st.dictionaries(
    st.text(min_size=1, max_size=8), _JSON_VAL, max_size=4
).map(lambda d: {k: v for k, v in d.items() if k != "timestamp"})


@settings(max_examples=10, deadline=None)
@given(docs=st.lists(_RANDOM_DOC, min_size=1, max_size=25))
def test_random_json_ingest_never_crashes(spark, docs):
    """Arbitrary nested JSON through the full ingest stack — including
    mapped fields carrying the WRONG shape (objects/arrays/numbers where
    the mapping says keyword/text) — must never raise, must conserve the
    row count, and must round-trip every raw line byte-exact."""
    import json as _json

    from seqspark import Mapping, SearchTable
    from seqspark.ingest import ingest_docs

    mapping = Mapping({"service": "keyword", "message": "text"})
    # force type collisions on the mapped fields in half the docs
    for i, d in enumerate(docs):
        if i % 2 == 0:
            d["service"] = d.get("service", [1, {"x": None}])
            d["message"] = {"nested": ["not", "a", "string"]}
    lines = [_json.dumps(d, sort_keys=True) for d in docs]
    frame = ingest_docs(
        spark.createDataFrame([(l,) for l in lines], "raw string"),
        mapping, allowed_drift_ms=10**15, future_drift_ms=10**15,
    )
    rows = frame.select("raw", "mid", "rid").collect()
    assert len(rows) == len(lines)
    assert sorted(r["raw"] for r in rows) == sorted(lines)
    assert all(r["mid"] is not None and r["rid"] is not None for r in rows)
    # the table stays searchable; match-all sees every doc
    st_ = SearchTable.from_docs(frame, mapping)
    assert st_.search("*", size=100).count() == len(lines)


# ---------------------------------------------------------------------------
# Wildcard matcher parity vs a direct Python port of the reference's
# matcher (pattern/pattern.go:73-155 check path + pattern/substring.go
# KMP greedy middle-term automaton). The port is a TEST MODEL ONLY —
# the engine compiles wildcards to SQL LIKE (compile.wildcard_like) and
# this property pins that the two agree on adversarial inputs:
# overlapping terms (a*aa on aaa), LIKE metacharacters (% _ \) in DATA,
# newlines (LIKE % must cross them like the reference's any-byte *),
# multi-byte unicode (byte-level vs char-level matching — equal for
# valid UTF-8 because the encoding is self-synchronizing), and empty
# prefix/suffix (leading/trailing stars).


class _GoSubstring:
    """Port of substring.calcPrefFunc/findSubstring (substring.go)."""

    def __init__(self, val: bytes):
        assert val, "reference terms are never empty"
        self.val = val
        pf = [0] * len(val)
        cur = 0
        for i, b in enumerate(val[1:]):
            while cur > 0 and b != val[cur]:
                cur = pf[cur - 1]
            if b == val[cur]:
                cur += 1
            pf[i + 1] = cur
        self.pf = pf

    def find(self, s: bytes) -> int:
        cur = 0
        for i, b in enumerate(s):
            while cur > 0 and b != self.val[cur]:
                cur = self.pf[cur - 1]
            if b == self.val[cur]:
                cur += 1
            if cur == len(self.val):
                return i + 1
        return -1


class _GoWildcard:
    """Port of wildcardSearch (pattern/pattern.go:73-155): terms are
    ('*' | non-empty text) with prefix = first term if text, suffix =
    last term if text, middles = interior text terms found greedily
    left-to-right in the region between prefix and suffix."""

    def __init__(self, terms):
        assert any(t is None for t in terms), "literal path handles no-star"
        self.prefix = terms[0].encode() if terms[0] is not None else b""
        self.suffix = (
            terms[-1].encode() if len(terms) > 1 and terms[-1] is not None else b""
        )
        self.middle = [
            _GoSubstring(t.encode()) for t in terms[1:-1] if t is not None
        ]
        self.middle_len = sum(len(m.val) for m in self.middle)

    def check(self, val: str) -> bool:
        v = val.encode()
        np, ns = len(self.prefix), len(self.suffix)
        if np and (np > len(v) or v[:np] != self.prefix):
            return False
        if ns and (len(v) - np < ns or v[-ns:] != self.suffix):
            return False
        if self.middle:
            if len(v) - np - ns < self.middle_len:
                return False
            s = v[np : len(v) - ns]
            for m in self.middle:
                end = m.find(s)
                if end == -1:
                    return False
                s = s[end:]
        return True


_WC_ALPHABET = "ab%_\\\n\tßẞé K"  # LIKE metachars, newline, multibyte, case pairs


def _wc_text():
    return st.text(alphabet=_WC_ALPHABET, min_size=1, max_size=4)


@st.composite
def _wildcard_case(draw):
    texts = draw(st.lists(_wc_text(), min_size=0, max_size=3))
    lead = draw(st.booleans())
    trail = draw(st.booleans())
    terms: list = []
    if lead or not texts:
        terms.append(None)  # '*'
    for i, t in enumerate(texts):
        if i:
            terms.append(None)
        terms.append(t)
    if texts and trail:
        terms.append(None)
    if not any(t is None for t in terms):
        terms.append(None)
    # adversarial values: random, or a splice of the pattern's own text
    # terms (overlap traps like a*aa on aaa come from here)
    value = draw(
        st.one_of(
            st.text(alphabet=_WC_ALPHABET, min_size=0, max_size=10),
            st.builds(
                lambda sep, reps: sep.join(texts * reps),
                st.sampled_from(["", "a", "aa"]),
                st.integers(min_value=1, max_value=2),
            )
            if texts
            else st.just(""),
        )
    )
    return terms, value


@settings(max_examples=10, deadline=None)
@given(st.lists(_wildcard_case(), min_size=1, max_size=60))
def test_wildcard_like_matches_go_matcher_model(spark, cases):
    from seqspark.compile import wildcard_like
    from seqspark.seqql.parser import Term

    rows, expected = [], []
    for terms_spec, value in cases:
        terms = [
            Term.wildcard() if t is None else Term.text(t) for t in terms_spec
        ]
        rows.append((value, wildcard_like(terms)))
        expected.append(_GoWildcard(terms_spec).check(value))
    df = spark.createDataFrame(rows, "v string, p string")
    got = [r["m"] for r in df.select(F.expr("v LIKE p").alias("m")).collect()]
    mism = [
        (rows[i], expected[i], got[i])
        for i in range(len(rows))
        if bool(got[i]) != expected[i]
    ]
    assert not mism, f"LIKE vs Go-matcher divergence: {mism[:5]}"


def test_wildcard_like_overlap_traps(spark):
    # the named adversarial shapes, pinned explicitly (not just sampled):
    # greedy-overlap, suffix-overlap-prefix, metachars in data, newline
    # crossing, escaped backslash in data
    from seqspark.compile import wildcard_like
    from seqspark.seqql.parser import Term

    T, W = Term.text, Term.wildcard
    cases = [
        ([T("a"), W(), T("aa")], "aaa", True),   # a*aa on aaa
        ([T("a"), W(), T("aa")], "aa", False),   # suffix may not eat prefix
        ([T("aa"), W(), T("a")], "aaa", True),
        ([W(), T("a%b"), W()], "xa%by", True),   # % literal in data+term
        ([W(), T("a_b"), W()], "axb", False),    # _ must not be a wildcard
        ([W(), T("a_b"), W()], "a_b", True),
        ([W(), T("\\"), W()], "a\\b", True),     # backslash in data+term
        ([T("a"), W(), T("b")], "a\nb", True),   # * crosses newlines
        ([T("ab"), W()], "a", False),            # prefix longer than value
        ([W(), T("ab")], "ab", True),            # *ab on ab (empty run)
    ]
    rows = [(v, wildcard_like(t)) for t, v, _ in cases]
    df = spark.createDataFrame(rows, "v string, p string")
    got = [r["m"] for r in df.select(F.expr("v LIKE p").alias("m")).collect()]
    for (terms, value, want), g in zip(cases, got):
        assert bool(g) == want, (value, wildcard_like(terms), want, g)
        assert _GoWildcard(
            [None if t.kind.name == "SYMBOL" else t.data for t in terms]
        ).check(value) == want


# ---------------------------------------------------------------------------
# Generative differential query fuzz (r12): random well-typed seq-ql over a
# fixture mapping, evaluated by TWO independent stacks and compared per
# document — the engine (render → parse → compile → Spark Columns) versus a
# direct translation of the same query SPEC to DuckDB SQL over documents
# tokenized by the independent Python models above. The spirit of the
# reference's `tests/suites/single.go:96-120` RunFracEnvs: one query, N
# independent evaluations, identical verdicts. The golden corpora pin KNOWN
# vectors; this explores the grammar PRODUCT space — nested not/parens,
# in() mixing literals and wildcards, ranges on multi-type fields, unicode
# idents and values, byte-cap edges, numeric-vs-lexicographic dispatch.
#
# Already caught for r12 (fixed in seqspark.compile, pinned below):
#   - `parses_as_number` accepted unicode digits (Python \d), so a bound
#     like '٤٢' dispatched a range NUMERIC where Go ParseFloat (ASCII only)
#     dispatches LEXICOGRAPHIC;
#   - the token numeric-range path used bare try_cast(double), which trims
#     whitespace — token ' 5' matched [0, 10] where the reference's
#     ParseFloat rejects it.

_DIFF_CAP = 72


def _go_num(s: str):
    """Fresh Go-ParseFloat decimal model for the oracle side (ASCII digits;
    finite results only) — intentionally NOT seqspark.compile's function."""
    if not re.match(r"^[+-]?([0-9]+(\.[0-9]*)?|\.[0-9]+)([eE][+-]?[0-9]+)?$", s):
        return None
    v = float(s)
    if v != v or v in (float("inf"), float("-inf")):
        return None
    return v


def _kw_toks(v):
    if v is None:
        return None
    return [] if len(v.encode("utf-8")) > _DIFF_CAP else [v.lower()]


def _txt_toks(v):
    return None if v is None else model_text_tokens(v)


def _tok_nums(toks):
    return None if toks is None else [_go_num(t) for t in toks]


_DIFF_SERVICES = [
    "auth", "API", "api-v2", "db 01", "ВЕБ", "x" * 80, "", "auth'q",
    "a\\b", "conn42",
]
_DIFF_MSG_WORDS = [
    "Error", "timeout", "user", "LOGIN", "conn42", "x_y", "ab*c", "ß",
    "日本語", "retry", "42", "٤٢",
]
_DIFF_MSG_SEPS = [" ", " - ", ". ", "! ", ", ", "/"]
_DIFF_CODES = [
    "42", "007", "-3.5", ".5", "5.", "+5", "1e3", "1E3", "1e309",
    "Infinity", "NaN", "nan", " 5", "5 ", "0x1A", "1_0", "abc", "",
    "٤٢", "99999999999999999999", "-0", "0.0", "3.14",
]
_DIFF_KODS = ["красный", "Зелёный", "blue", "жёлтый", ""]
_DIFF_URLS = [
    "/api/v1/users", "/API/login", "/a/b", "/a", "a/b/c", "",
    "/a/b/c/d/e", "/статика/css", "/x" * 40,
]
_DIFF_NS = [0, -1, 5, 42, 1000, 123456789, -37]
_DIFF_VALUES = [
    float("nan"), float("inf"), float("-inf"), -0.0, 0.0, 1.5, -3.5,
    42.0, 1e308, 0.1, 7.0,
]

_DIFF_MAPPING = {
    "service": "keyword",
    "url": "path",
    "code": "keyword",
    "msg": {"types": [{"type": "text"}, {"title": "keyword", "type": "keyword"}]},
    "код": "keyword",
    "n": "keyword",
    "value": "keyword",
}


def _diff_docs():
    import random

    rng = random.Random(1207)
    docs = []
    for i in range(280):
        svc = rng.choice(_DIFF_SERVICES) if rng.random() > 0.12 else None
        if rng.random() > 0.1:
            msg = rng.choice(_DIFF_MSG_SEPS).join(
                rng.choice(_DIFF_MSG_WORDS)
                for _ in range(rng.randint(0, 6))
            )
        else:
            msg = None
        code = rng.choice(_DIFF_CODES) if rng.random() > 0.15 else None
        kod = rng.choice(_DIFF_KODS) if rng.random() > 0.3 else None
        url = rng.choice(_DIFF_URLS) if rng.random() > 0.25 else None
        n = rng.choice(_DIFF_NS) if rng.random() > 0.2 else None
        value = rng.choice(_DIFF_VALUES) if rng.random() > 0.2 else None
        docs.append((i, svc, msg, code, kod, url, n, value))
    return docs


@pytest.fixture(scope="module")
def diff_rig(spark):
    """(SearchTable, duckdb connection with `diffdocs`, Mapping)."""
    import duckdb
    import pyarrow as pa

    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
        TimestampType,
    )

    from seqspark import SearchTable
    from seqspark.mapping import Mapping

    docs = _diff_docs()
    import datetime

    schema = StructType([
        StructField("id", LongType()),
        StructField("ts", TimestampType()),
        StructField("service", StringType()),
        StructField("msg", StringType()),
        StructField("code", StringType()),
        StructField("код", StringType()),
        StructField("url", StringType()),
        StructField("n", LongType()),
        StructField("value", DoubleType()),
    ])
    epoch = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    # i // 2: two docs share each second, so (ts, rid) ORDER tie-breaks
    # and ms-window edges are both exercised by the pagination fuzz
    rows = [
        (i, epoch + datetime.timedelta(seconds=i // 2), svc, msg, code, kod,
         url, n, v)
        for (i, svc, msg, code, kod, url, n, v) in docs
    ]
    df = spark.createDataFrame(rows, schema).cache()
    table = SearchTable.from_typed(df, _DIFF_MAPPING, ts_col="ts", rid_col="id")

    cols = {"id": pa.array([d[0] for d in docs], pa.int64())}
    tok_sets = {
        "service_toks": [_kw_toks(d[1]) for d in docs],
        "msg_toks": [_txt_toks(d[2]) for d in docs],
        "title_toks": [_kw_toks(d[2]) for d in docs],
        "code_toks": [_kw_toks(d[3]) for d in docs],
        "kod_toks": [_kw_toks(d[4]) for d in docs],
        "url_toks": [
            model_path_tokens(d[5]) if d[5] is not None else None
            for d in docs
        ],
        "n_toks": [
            _kw_toks(str(d[6])) if d[6] is not None else None for d in docs
        ],
    }
    for name, toks in tok_sets.items():
        cols[name] = pa.array(toks, pa.list_(pa.string()))
        cols[name.replace("_toks", "_nums")] = pa.array(
            [_tok_nums(t) for t in toks], pa.list_(pa.float64())
        )
    cols["n"] = pa.array([d[6] for d in docs], pa.int64())
    cols["value"] = pa.array([d[7] for d in docs], pa.float64())
    # epoch ms of 2024-01-01T00:00:00Z + id seconds — mirrors the Spark ts
    cols["ts_ms"] = pa.array(
        [1704067200000 + (d[0] // 2) * 1000 for d in docs], pa.int64()
    )
    con = duckdb.connect()
    con.register("diffdocs", pa.table(cols))
    yield table, con, Mapping(dict(_DIFF_MAPPING))
    con.close()


# --- spec strategies -------------------------------------------------------
# A spec is an independently-defined tuple tree; the renderer below turns it
# into seq-ql text, `_diff_expected_ast` into the AST the parser must
# produce, and `_duck_expr` into the DuckDB oracle expression.

_DIFF_KW_FIELDS = ["service", "code", "msg.keyword", "код", "n", "url"]
_DIFF_ALL_FIELDS = _DIFF_KW_FIELDS + ["msg", "value"]
_DIFF_HOT_TERMS = [
    "auth", "api", "api-v2", "db 01", "веб", "error", "conn42", "42",
    "007", "infinity", " 5", "красный", "x_y", "ab*c", "日本語", "timeout",
    "login", "blue", "/api", "/api/v1", "/a/b", "/api/v1/users",
    "/статика", "a/b",
]
_DIFF_KW_ALPHA = "abz09AZ _-.!*'\\:äß日\n"
_DIFF_WORD_ALPHA = "abcxz09_*äABC日"
_DIFF_BOUNDS = [
    "0", "5", "42", "-1", "3.14", ".5", "5.", "+5", "1e2", "1e309",
    "infinity", "NaN", "٤٢", "abc", "z", "веб", "", "007", " 5",
]
_DIFF_NUM_BOUNDS = ["0", "5", "42", "-1", "3.14", "1e2", ".5", "+5"]

_kw_text = st.one_of(
    st.sampled_from(_DIFF_HOT_TERMS),
    st.text(alphabet=_DIFF_KW_ALPHA, min_size=1, max_size=8),
)
_word_text = st.one_of(
    st.sampled_from([w for w in _DIFF_MSG_WORDS if "٤" not in w]),
    st.text(alphabet=_DIFF_WORD_ALPHA, min_size=1, max_size=6),
)


def _norm_parts(parts):
    """Merge adjacent text parts and drop empty text — the normal form whose
    render→parse round-trip is the identity."""
    out = []
    for p in parts:
        if p[0] == "t" and not p[1]:
            continue
        if p[0] == "t" and out and out[-1][0] == "t":
            out[-1] = ("t", out[-1][1] + p[1])
        else:
            out.append(("t", p[1]) if p[0] == "t" else ("w",))
    return out


def _parts_strategy(text_st):
    part = st.one_of(
        st.tuples(st.just("t"), text_st), st.just(("w",))
    )
    return st.lists(part, min_size=0, max_size=4).map(_norm_parts)


_kw_parts = _parts_strategy(_kw_text)
_text_groups = st.lists(
    _parts_strategy(_word_text).filter(lambda g: g), min_size=0, max_size=3
)
_bound = st.one_of(
    st.just(("*",)),
    st.tuples(st.just("t"), st.sampled_from(_DIFF_BOUNDS)),
    st.tuples(st.just("t"), _kw_text.filter(lambda s: "\n" not in s)),
)
_num_bound = st.one_of(
    st.just(("*",)),
    st.tuples(st.just("t"), st.sampled_from(_DIFF_NUM_BOUNDS)),
)


@st.composite
def _range_spec(draw):
    f = draw(st.sampled_from(_DIFF_ALL_FIELDS))
    bpool = _num_bound if f == "value" else _bound
    return (
        "range", f, draw(bpool), draw(bpool),
        draw(st.booleans()), draw(st.booleans()),
    )


@st.composite
def _in_spec(draw):
    f = draw(st.sampled_from(_DIFF_KW_FIELDS + ["msg"]))
    if f == "msg":
        vals = draw(st.lists(
            st.tuples(_text_groups, st.sampled_from(_DIFF_MSG_SEPS)),
            min_size=1, max_size=3,
        ))
    else:
        vals = draw(st.lists(_kw_parts, min_size=1, max_size=3))
    return ("in", f, vals)


@st.composite
def _textlit_spec(draw):
    return (
        "textlit", "msg", draw(_text_groups),
        draw(st.sampled_from(_DIFF_MSG_SEPS)),
    )


_diff_leaf = st.one_of(
    st.just(("all",)),
    st.tuples(st.just("exists"), st.sampled_from(_DIFF_ALL_FIELDS)),
    st.tuples(st.just("kwlit"), st.sampled_from(_DIFF_KW_FIELDS), _kw_parts),
    _textlit_spec(),
    _range_spec(),
    _in_spec(),
)
_diff_spec = st.recursive(
    _diff_leaf,
    lambda ch: st.one_of(
        st.tuples(st.just("and"), ch, ch),
        st.tuples(st.just("or"), ch, ch),
        st.tuples(st.just("not"), ch),
    ),
    max_leaves=5,
)


# --- renderer ---------------------------------------------------------------

def _esc_quoted(ch: str) -> str:
    if ch in ("\\", "'", "*"):
        return "\\" + ch
    if ch == "\n":
        return "\\n"
    if ch == "\r":
        return "\\r"
    return ch


def _render_value(parts) -> str:
    out = ["'"]
    for p in parts:
        if p[0] == "w":
            out.append("*")  # unescaped * inside quotes IS the wildcard
        else:
            out.extend(_esc_quoted(c) for c in p[1])
    out.append("'")
    return "".join(out)


def _render_text_value(groups, sep) -> str:
    flat = []
    for i, g in enumerate(groups):
        if i:
            flat.append(("t", sep))
        flat.extend(g)
    return _render_value(flat)


def _render(spec) -> str:
    k = spec[0]
    if k == "all":
        return "_all_:*"
    if k == "exists":
        return "_exists_:" + spec[1]
    if k == "kwlit":
        return spec[1] + ":" + _render_value(spec[2])
    if k == "textlit":
        return "msg:" + _render_text_value(spec[2], spec[3])
    if k == "range":
        _, f, lo, hi, ilo, ihi = spec

        def b(t):
            return "*" if t[0] == "*" else _render_value([("t", t[1])])

        return (
            f"{f}:{'[' if ilo else '('}{b(lo)}, {b(hi)}{']' if ihi else ')'}"
        )
    if k == "in":
        _, f, vals = spec
        if f == "msg":
            rendered = [_render_text_value(g, s) for (g, s) in vals]
        else:
            rendered = [_render_value(p) for p in vals]
        return f"{f}:in({', '.join(rendered)})"
    if k == "and":
        return f"({_render(spec[1])} and {_render(spec[2])})"
    if k == "or":
        return f"({_render(spec[1])} or {_render(spec[2])})"
    return f"(not {_render(spec[1])})"


# --- expected AST (independent construction, for the round-trip property) ---

def _expected_terms(parts, fold=True):
    from seqspark.seqql.ast import Term

    if not parts:
        return [Term.text("")]
    return [
        Term.wildcard() if p[0] == "w"
        else Term.text(p[1].lower() if fold else p[1])
        for p in parts
    ]


def _expected_text_nodes(field, groups):
    from seqspark.seqql.ast import Literal, Term

    if not groups:
        return [Literal(field, [Term.text("")])]
    return [Literal(field, _expected_terms(g)) for g in groups]


def _diff_expected_ast(spec):
    from seqspark.seqql.ast import (
        TOKEN_ALL, TOKEN_EXISTS, Literal, Range, Term, build_and_tree,
        and_node, not_node, or_node,
    )

    k = spec[0]
    if k == "all":
        return Literal(TOKEN_ALL, [Term.wildcard()])
    if k == "exists":
        return Literal(TOKEN_EXISTS, [Term.text(spec[1])])
    if k == "kwlit":
        return Literal(spec[1], _expected_terms(spec[2]))
    if k == "textlit":
        return build_and_tree(_expected_text_nodes("msg", spec[2]))
    if k == "range":
        _, f, lo, hi, ilo, ihi = spec

        def term(t):
            return Term.wildcard() if t[0] == "*" else Term.text(t[1].lower())

        return Range(f, term(lo), term(hi), ilo, ihi)
    if k == "in":
        _, f, vals = spec
        nodes = []
        for v in vals:
            if f == "msg":
                nodes.append(build_and_tree(_expected_text_nodes("msg", v[0])))
            else:
                nodes.append(Literal(f, _expected_terms(v)))
        root = nodes[0]
        for nd in nodes[1:]:
            root = or_node(root, nd)
        return root
    if k == "and":
        return and_node(_diff_expected_ast(spec[1]), _diff_expected_ast(spec[2]))
    if k == "or":
        return or_node(_diff_expected_ast(spec[1]), _diff_expected_ast(spec[2]))
    return not_node(_diff_expected_ast(spec[1]))


# --- DuckDB oracle translation ----------------------------------------------

_DIFF_COLS = {
    "service": ("service_toks", "service_nums"),
    "code": ("code_toks", "code_nums"),
    "msg": ("msg_toks", "msg_nums"),
    "msg.keyword": ("title_toks", "title_nums"),
    "код": ("kod_toks", "kod_nums"),
    "url": ("url_toks", "url_nums"),
    "n": ("n_toks", "n_nums"),
}
_DIFF_NATIVE = {"n": ("n", False), "value": ("value", True)}


def _sq(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _duck_lit(toks_col, parts) -> str:
    folded = _norm_parts(
        [("t", p[1].lower()) if p[0] == "t" else p for p in parts]
    )
    if not folded:
        folded = [("t", "")]
    if len(folded) == 1 and folded[0][0] == "t":
        return f"coalesce(list_contains({toks_col}, {_sq(folded[0][1])}), FALSE)"
    if len(folded) == 1 and folded[0][0] == "w":
        return f"coalesce(len({toks_col}) > 0, FALSE)"
    pat = "".join(
        "%" if p[0] == "w"
        else p[1].replace("\\", "\\\\").replace("%", "\\%").replace("_", "\\_")
        for p in folded
    )
    return (
        f"coalesce(len(list_filter({toks_col}, t -> t LIKE {_sq(pat)} "
        f"ESCAPE '\\')) > 0, FALSE)"
    )


def _duck_range(spec, fold_bounds: bool = True) -> str:
    _, f, lo, hi, ilo, ihi = spec
    lo_s = None if lo[0] == "*" else (lo[1].lower() if fold_bounds else lo[1])
    hi_s = None if hi[0] == "*" else (hi[1].lower() if fold_bounds else hi[1])
    lo_n = None if lo_s is None else _go_num(lo_s)
    hi_n = None if hi_s is None else _go_num(hi_s)
    numeric = (lo_s is None or lo_n is not None) and (
        hi_s is None or hi_n is not None
    )
    native = _DIFF_NATIVE.get(f)
    if native is not None and numeric:
        col, is_float = native
        conds = [f"{col} IS NOT NULL"]
        if is_float:
            conds += [f"NOT isnan({col})", f"NOT isinf({col})"]
        if lo_n is not None:
            conds.append(f"{col} {'>=' if ilo else '>'} {lo_n!r}")
        if hi_n is not None:
            conds.append(f"{col} {'<=' if ihi else '<'} {hi_n!r}")
        return "coalesce(" + " AND ".join(conds) + ", FALSE)"
    toks_col, nums_col = _DIFF_COLS[f]
    if numeric:
        conds = ["v IS NOT NULL"]
        if lo_n is not None:
            conds.append(f"v {'>=' if ilo else '>'} {lo_n!r}")
        if hi_n is not None:
            conds.append(f"v {'<=' if ihi else '<'} {hi_n!r}")
        inner = " AND ".join(conds)
        return (
            f"coalesce(len(list_filter({nums_col}, v -> {inner})) > 0, FALSE)"
        )
    conds = []
    if lo_s is not None:
        conds.append(f"t {'>=' if ilo else '>'} {_sq(lo_s)}")
    if hi_s is not None:
        conds.append(f"t {'<=' if ihi else '<'} {_sq(hi_s)}")
    inner = " AND ".join(conds) or "TRUE"
    return f"coalesce(len(list_filter({toks_col}, t -> {inner})) > 0, FALSE)"


def _duck_expr(spec, legacy: bool = False) -> str:
    k = spec[0]
    if k == "all":
        return "TRUE"
    if k == "exists":
        f = spec[1]
        if f == "value":
            return "(value IS NOT NULL)"
        return f"({_DIFF_COLS[f][0]} IS NOT NULL)"
    if k == "kwlit":
        return _duck_lit(_DIFF_COLS[spec[1]][0], spec[2])
    if k == "textlit":
        groups = spec[2]
        if not groups:
            return _duck_lit("msg_toks", [("t", "")])
        return "(" + " AND ".join(
            _duck_lit("msg_toks", g) for g in groups
        ) + ")"
    if k == "range":
        # legacy range bounds are NOT case-folded
        # (`parser/term_builder.go:136-162` singleTermBuilder)
        return _duck_range(spec, fold_bounds=not legacy)
    if k == "in":
        _, f, vals = spec
        if f == "msg":
            exprs = [
                _duck_expr(("textlit", "msg", g, s)) for (g, s) in vals
            ]
        else:
            exprs = [_duck_lit(_DIFF_COLS[f][0], p) for p in vals]
        return "(" + " OR ".join(exprs) + ")"
    if k == "and":
        return (f"({_duck_expr(spec[1], legacy)} AND "
                f"{_duck_expr(spec[2], legacy)})")
    if k == "or":
        return (f"({_duck_expr(spec[1], legacy)} OR "
                f"{_duck_expr(spec[2], legacy)})")
    return f"(NOT {_duck_expr(spec[1], legacy)})"


# --- the properties ----------------------------------------------------------


@settings(max_examples=300, deadline=None)
@given(_diff_spec)
def test_seqql_render_parse_roundtrip(spec):
    """parse(render(spec)) must produce EXACTLY the independently-built AST —
    300 examples over the grammar product space, no Spark needed."""
    from seqspark.mapping import Mapping
    from seqspark.seqql.parser import parse

    mapping = Mapping(dict(_DIFF_MAPPING))
    q = _render(spec)
    got = parse(q, mapping, case_sensitive=False)
    assert got.root == _diff_expected_ast(spec), q


@st.composite
def _flat_chain(draw):
    """Leaves joined by bare and/or with optional not-prefixes — NO parens,
    so operator precedence itself is under test."""
    leaves = draw(st.lists(
        st.tuples(st.integers(0, 2), _diff_leaf), min_size=2, max_size=5,
    ))
    ops = draw(st.lists(
        st.sampled_from(["and", "or"]),
        min_size=len(leaves) - 1, max_size=len(leaves) - 1,
    ))
    return leaves, ops


@settings(max_examples=300, deadline=None)
@given(_flat_chain())
def test_seqql_precedence_differential(chain):
    """'and' binds tighter than 'or'; 'or' chains left-assoc; 'not' binds the
    subexpression — pinned against an independent precedence builder."""
    from seqspark.mapping import Mapping
    from seqspark.seqql.ast import and_node, not_node, or_node
    from seqspark.seqql.parser import parse

    leaves, ops = chain
    mapping = Mapping(dict(_DIFF_MAPPING))
    q = " ".join(
        ("not " * nots) + _render(leaf)
        + ((" " + ops[i]) if i < len(ops) else "")
        for i, (nots, leaf) in enumerate(leaves)
    )
    nodes = []
    for nots, leaf in leaves:
        nd = _diff_expected_ast(leaf)
        for _ in range(nots):
            nd = not_node(nd)
        nodes.append(nd)
    res, cur = None, nodes[0]
    for op, nxt in zip(ops, nodes[1:]):
        if op == "and":
            cur = and_node(cur, nxt)
        else:
            res = cur if res is None else or_node(res, cur)
            cur = nxt
    expected = cur if res is None else or_node(res, cur)
    got = parse(q, mapping, case_sensitive=False)
    assert got.root == expected, q


@settings(max_examples=45, deadline=None)
@given(st.lists(_diff_spec, min_size=6, max_size=6))
def test_seqql_differential_spark_vs_duckdb(diff_rig, specs):
    """The engine's verdict per (document, query) must equal the DuckDB
    oracle's on randomized queries — 45 batches x 6 queries = 270 queries.
    Column-free of seqspark on the oracle side: tokens come from the Python
    model tokenizers, numerics from the fresh Go-float model."""
    table, con, _ = diff_rig
    preds = []
    for i, spec in enumerate(specs):
        preds.append(table.predicate(_render(spec)).alias(f"q{i}"))
    got = {
        r["id"]: tuple(bool(r[f"q{i}"]) for i in range(len(specs)))
        for r in table.df.select("id", *preds).collect()
    }
    sql = "SELECT id, " + ", ".join(
        f"{_duck_expr(spec)} AS q{i}" for i, spec in enumerate(specs)
    ) + " FROM diffdocs ORDER BY id"
    want = {
        row[0]: tuple(bool(v) for v in row[1:])
        for row in con.execute(sql).fetchall()
    }
    assert set(got) == set(want)
    for doc_id, flags in want.items():
        if got[doc_id] != flags:
            bad = [
                (_render(specs[i]), flags[i], got[doc_id][i])
                for i in range(len(specs))
                if flags[i] != got[doc_id][i]
            ]
            raise AssertionError(
                f"divergence on doc {doc_id}: {bad}"
            )


def test_numeric_token_dispatch_pins(diff_rig):
    """Deterministic pins for the two bugs the fuzz design caught:
    whitespace-padded tokens must NOT match numeric ranges (Go ParseFloat
    does not trim), and unicode-digit bounds dispatch LEXICOGRAPHIC."""
    table, con, _ = diff_rig
    # doc code ' 5' exists in the corpus; [0, 10] must not match it
    got = {
        r["id"]
        for r in table.df.filter(table.predicate("code:[0, 10]"))
        .select("id").collect()
    }
    ws_ids = {
        row[0] for row in con.execute(
            "SELECT id FROM diffdocs WHERE coalesce("
            "list_contains(code_toks, ' 5'), FALSE)"
        ).fetchall()
    }
    assert ws_ids, "fixture must contain a whitespace-padded numeric token"
    assert not (got & ws_ids)
    # '٤٢' bound → lexicographic dispatch (Go rejects unicode digits)
    from seqspark.compile import parses_as_number, range_bounds
    from seqspark.seqql.ast import Range, Term

    assert parses_as_number("٤٢") is None
    rng = Range("code", Term.text("٤٢"), Term.text("٤٣"), True, True)
    assert range_bounds(rng)[0] is False


# --- legacy dialect (r12): the same spec trees, rendered in the legacy
# grammar and checked against the same oracle machinery. Legacy deltas
# handled by normalization + flags: no in() (rewritten to an or-chain),
# adjacent wildcards are a keyword-value parse error (collapsed; in text
# values `**` SPLITS tokens, so collapsing keeps one well-defined
# semantics for both render and oracle), and range bounds are NOT
# case-folded (`parser/term_builder.go:136-162`).


def _collapse_w(parts):
    out = []
    for p in parts:
        if p[0] == "w" and out and out[-1][0] == "w":
            continue
        out.append(p)
    return out


def _legacy_normalize(spec):
    k = spec[0]
    if k == "kwlit":
        return ("kwlit", spec[1], _collapse_w(spec[2]))
    if k == "textlit":
        return ("textlit", "msg", [_collapse_w(g) for g in spec[2]], spec[3])
    if k == "in":
        _, f, vals = spec
        if f == "msg":
            nodes = [
                ("textlit", "msg", [_collapse_w(g) for g in v[0]], v[1])
                for v in vals
            ]
        else:
            nodes = [("kwlit", f, _collapse_w(v)) for v in vals]
        root = nodes[0]
        for nd in nodes[1:]:
            root = ("or", root, nd)
        return root
    if k in ("and", "or"):
        return (k, _legacy_normalize(spec[1]), _legacy_normalize(spec[2]))
    if k == "not":
        return ("not", _legacy_normalize(spec[1]))
    return spec


def _legacy_quote(parts) -> str:
    out = ['"']
    for p in parts:
        if p[0] == "w":
            out.append("*")
        else:
            for ch in p[1]:
                out.append(("\\" + ch) if ch in '"\\*' else ch)
    out.append('"')
    return "".join(out)


def _render_legacy(spec) -> str:
    k = spec[0]
    if k == "all":
        return "_all_:*"
    if k == "exists":
        return "_exists_:" + spec[1]
    if k == "kwlit":
        return spec[1] + ":" + _legacy_quote(spec[2])
    if k == "textlit":
        flat = []
        for i, g in enumerate(spec[2]):
            if i:
                flat.append(("t", spec[3]))
            flat.extend(g)
        return "msg:" + _legacy_quote(flat)
    if k == "range":
        _, f, lo, hi, ilo, ihi = spec

        def b(t):
            return "*" if t[0] == "*" else _legacy_quote([("t", t[1])])

        return (
            f"{f}:{'[' if ilo else '{'}{b(lo)} to {b(hi)}"
            f"{']' if ihi else '}'}"
        )
    if k == "and":
        return f"({_render_legacy(spec[1])} and {_render_legacy(spec[2])})"
    if k == "or":
        return f"({_render_legacy(spec[1])} or {_render_legacy(spec[2])})"
    return f"(not {_render_legacy(spec[1])})"


def _legacy_expected_ast(spec):
    from seqspark.seqql.ast import Range, Term

    if spec[0] == "range":
        _, f, lo, hi, ilo, ihi = spec

        def term(t):  # VERBATIM bounds — the legacy no-fold delta
            return Term.wildcard() if t[0] == "*" else Term.text(t[1])

        return Range(f, term(lo), term(hi), ilo, ihi)
    if spec[0] in ("and", "or", "not"):
        from seqspark.seqql.ast import and_node, not_node, or_node

        if spec[0] == "and":
            return and_node(
                _legacy_expected_ast(spec[1]), _legacy_expected_ast(spec[2])
            )
        if spec[0] == "or":
            return or_node(
                _legacy_expected_ast(spec[1]), _legacy_expected_ast(spec[2])
            )
        return not_node(_legacy_expected_ast(spec[1]))
    return _diff_expected_ast(spec)


@settings(max_examples=300, deadline=None)
@given(_diff_spec)
def test_legacy_render_parse_roundtrip(spec):
    from seqspark.mapping import Mapping
    from seqspark.seqql.legacy import parse_legacy

    spec = _legacy_normalize(spec)
    mapping = Mapping(dict(_DIFF_MAPPING))
    q = _render_legacy(spec)
    got = parse_legacy(q, mapping, case_sensitive=False)
    assert got.root == _legacy_expected_ast(spec), q


@settings(max_examples=30, deadline=None)
@given(st.lists(_diff_spec, min_size=6, max_size=6))
def test_legacy_differential_spark_vs_duckdb(diff_rig, specs):
    """Legacy-dialect twin of the seq-ql differential: the engine's
    verdict per (document, query) equals the DuckDB oracle's, with the
    legacy no-fold range-bound semantics."""
    table, con, _ = diff_rig
    specs = [_legacy_normalize(s) for s in specs]
    preds = [
        table.predicate(_render_legacy(s), dialect="legacy").alias(f"q{i}")
        for i, s in enumerate(specs)
    ]
    got = {
        r["id"]: tuple(bool(r[f"q{i}"]) for i in range(len(specs)))
        for r in table.df.select("id", *preds).collect()
    }
    sql = "SELECT id, " + ", ".join(
        f"{_duck_expr(s, legacy=True)} AS q{i}" for i, s in enumerate(specs)
    ) + " FROM diffdocs ORDER BY id"
    want = {
        row[0]: tuple(bool(v) for v in row[1:])
        for row in con.execute(sql).fetchall()
    }
    for doc_id, flags in want.items():
        if got[doc_id] != flags:
            bad = [
                (_render_legacy(specs[i]), flags[i], got[doc_id][i])
                for i in range(len(specs))
                if flags[i] != got[doc_id][i]
            ]
            raise AssertionError(f"legacy divergence on doc {doc_id}: {bad}")


# --- aggregation differential fuzz (r12): random AggQuery shapes over the
# same corpus, engine vs a DuckDB replay of the reference's aggregation
# semantics — explode_outer group/field tokens, parseNum-gated values
# (the precomputed _nums arrays ARE the parseNum model), per-bucket
# not_exists, the legacy `_not_exists` count bucket, NaN for buckets with
# zero parsed samples, interval binning and the exact quantile (value = q0;
# Spark `percentile` and DuckDB `quantile_cont` share linear interpolation).

_AGG_GROUP_FIELDS = ["service", "code", "msg", "msg.keyword", "код", "n", "url"]
_AGG_VALUE_FIELDS = ["code", "n", "msg"]


def _draw_agg(draw, filt):
    """One ``("agg", func, field, group, interval, filt, quantile)``."""
    func = draw(st.sampled_from(["count", "unique", "sum", "min", "max",
                                 "avg", "quantile"]))
    if func in ("count", "unique"):
        # unique forbids interval (reference parity)
        interval = None if func == "unique" else draw(
            st.sampled_from([None, 60_000]))
        group = draw(st.sampled_from(_AGG_GROUP_FIELDS))
        return ("agg", func, None, group, interval, filt, None)
    field = draw(st.sampled_from(_AGG_VALUE_FIELDS))
    group = draw(st.sampled_from(_AGG_GROUP_FIELDS + [None]))
    interval = draw(st.sampled_from([None, 60_000]))
    qv = draw(st.sampled_from([0.0, 0.25, 0.5, 0.9, 1.0])) \
        if func == "quantile" else None
    return ("agg", func, field, group, interval, filt, qv)


@st.composite
def _agg_spec(draw):
    return _draw_agg(draw, draw(st.one_of(st.just(("all",)), _diff_leaf)))


def _agg_query(spec):
    from seqspark import AggQuery

    _, func, field, group_by, interval, _filt, qv = spec
    return AggQuery(
        func=func, field=field, group_by=group_by, interval_ms=interval,
        quantiles=() if qv is None else (qv,), exact_quantiles=True,
    )


def _duck_outer(col: str) -> str:
    """DuckDB twin of explode_outer: NULL/empty array -> one NULL row."""
    return (
        f"unnest(CASE WHEN {col} IS NULL OR len({col}) = 0 "
        f"THEN [NULL]::VARCHAR[] ELSE {col} END)"
    )


def _duck_outer_num(col: str) -> str:
    return (
        f"unnest(CASE WHEN {col} IS NULL OR len({col}) = 0 "
        f"THEN [NULL]::DOUBLE[] ELSE {col} END)"
    )


def _duck_agg_sql(spec) -> str:
    _, func, field, group_by, interval, filt, qv = spec
    where = _duck_expr(filt)
    mid = f"(ts_ms - ts_ms % {interval})" if interval else "NULL::BIGINT"
    if func in ("count", "unique"):
        gtoks = _DIFF_COLS[group_by][0]
        base = (
            f"SELECT {mid} AS mid_ms, {_duck_outer(gtoks)} AS grp "
            f"FROM diffdocs WHERE {where}"
        )
        if func == "count":
            return (
                f"WITH base AS ({base}) "
                "SELECT mid_ms, grp AS name, count(*)::DOUBLE AS value, "
                "0::BIGINT AS not_exists FROM base WHERE grp IS NOT NULL "
                "GROUP BY mid_ms, grp "
                "UNION ALL "
                "SELECT NULL::BIGINT, '_not_exists', count(*)::DOUBLE, "
                "0::BIGINT FROM base WHERE grp IS NULL HAVING count(*) > 0"
            )
        return (
            f"WITH base AS ({base}) "
            "SELECT DISTINCT mid_ms, grp AS name, 0.0 AS value, "
            "0::BIGINT AS not_exists FROM base WHERE grp IS NOT NULL"
        )
    ftoks, fnums = _DIFF_COLS[field]
    agg = {"sum": "sum(val)", "min": "min(val)", "max": "max(val)",
           "avg": "avg(val)", "quantile": f"quantile_cont(val, {qv})"}[func]
    if group_by is not None:
        gtoks = _DIFF_COLS[group_by][0]
        g = (
            f"SELECT id, ts_ms, {ftoks} AS ftoks, {fnums} AS fnums, "
            f"{_duck_outer(gtoks)} AS grp FROM diffdocs WHERE {where}"
        )
        e = (
            f"SELECT {mid} AS mid_ms, grp, "
            f"{_duck_outer('ftoks')} AS tok, {_duck_outer_num('fnums')} "
            "AS val FROM g"
        )
        return (
            f"WITH g AS ({g}), e AS ({e}) "
            "SELECT mid_ms, grp AS name, "
            f"CASE WHEN count(val) = 0 THEN 'NaN'::DOUBLE ELSE {agg} END "
            "AS value, "
            "count(CASE WHEN tok IS NULL THEN 1 END)::BIGINT AS not_exists "
            "FROM e WHERE grp IS NOT NULL GROUP BY mid_ms, grp"
        )
    e = (
        f"SELECT {mid} AS mid_ms, {_duck_outer(ftoks)} AS tok, "
        f"{_duck_outer_num(fnums)} AS val FROM diffdocs WHERE {where}"
    )
    return (
        f"WITH e AS ({e}) "
        "SELECT mid_ms, NULL::VARCHAR AS name, "
        f"CASE WHEN count(val) = 0 THEN 'NaN'::DOUBLE ELSE {agg} END "
        "AS value, 0::BIGINT AS not_exists "
        "FROM e WHERE tok IS NOT NULL GROUP BY mid_ms"
    )


def _norm_bucket_rows(rows):
    out = []
    for mid, name, value, ne in rows:
        if value is not None and value != value:
            value = "NaN"
        out.append((mid, name, value, ne))
    return sorted(out, key=str)


@settings(max_examples=25, deadline=None)
@given(st.lists(_agg_spec(), min_size=3, max_size=3))
def test_agg_differential_spark_vs_duckdb(diff_rig, specs):
    """Engine aggregation buckets equal the DuckDB replay — 25x3 random
    (func, field, group_by, interval, filter) shapes."""
    import math

    table, con, _ = diff_rig
    for spec in specs:
        filt = spec[5]
        got = _norm_bucket_rows(
            (r["mid_ms"], r["name"], r["value"], r["not_exists"])
            for r in table.aggregate(_agg_query(spec), q=_render(filt)).collect()
        )
        want = _norm_bucket_rows(con.execute(_duck_agg_sql(spec)).fetchall())
        assert len(got) == len(want), (spec, _render(filt), len(got),
                                       len(want))
        for g, w in zip(got, want):
            assert g[0] == w[0] and g[1] == w[1] and g[3] == w[3], (
                spec, _render(filt), g, w)
            if isinstance(g[2], str) or isinstance(w[2], str):
                assert g[2] == w[2], (spec, _render(filt), g, w)
            else:
                assert math.isclose(
                    g[2], w[2], rel_tol=1e-9, abs_tol=1e-9
                ), (spec, _render(filt), g, w)


# --- search pagination / time-window differential fuzz (r12): random
# (filter, window, order, size, offset) against a DuckDB replay of the
# ordered drain, plus keyset (search_after) page-chain equivalence. The
# corpus has two docs per second, so the (ts, rid) tie-break is live.

_DIFF_EPOCH_MS = 1704067200000
_DIFF_SPAN_S = 140  # 280 docs, two per second


@st.composite
def _page_spec(draw):
    filt = draw(st.one_of(st.just(("all",)), _diff_leaf))
    order = draw(st.sampled_from(["asc", "desc"]))
    size = draw(st.sampled_from([None, 1, 7, 50, 500]))
    offset = draw(st.sampled_from([0, 0, 1, 13, 400]))
    if draw(st.booleans()):
        a = draw(st.integers(0, _DIFF_SPAN_S))
        b = draw(st.integers(0, _DIFF_SPAN_S))
        lo, hi = sorted((a, b))
        window = (_DIFF_EPOCH_MS + lo * 1000, _DIFF_EPOCH_MS + hi * 1000)
    else:
        window = (None, None)
    return (filt, window, order, size, offset)


def _duck_page_ids(con, spec):
    filt, (f_ms, t_ms), order, size, offset = spec
    conds = [_duck_expr(filt)]
    if f_ms is not None:
        conds.append(f"ts_ms >= {f_ms}")
        conds.append(f"ts_ms <= {t_ms}")
    d = "DESC" if order == "desc" else "ASC"
    sql = (
        f"SELECT id FROM diffdocs WHERE {' AND '.join(conds)} "
        f"ORDER BY ts_ms {d}, id {d} "
        f"OFFSET {offset} LIMIT {10_000 if size is None else size}"
    )
    return [r[0] for r in con.execute(sql).fetchall()]


@settings(max_examples=15, deadline=None)
@given(st.lists(_page_spec(), min_size=3, max_size=3))
def test_search_pagination_differential(diff_rig, specs):
    table, con, _ = diff_rig
    for spec in specs:
        filt, (f_ms, t_ms), order, size, offset = spec
        got = [
            r["id"]
            for r in table.search(
                _render(filt), from_ms=f_ms, to_ms=t_ms, size=size,
                offset=offset, order=order,
            ).select("id").collect()
        ]
        want = _duck_page_ids(con, spec)
        assert got == want, (spec, _render(filt), got[:5], want[:5])


@settings(max_examples=10, deadline=None)
@given(_page_spec())
def test_search_after_chain_equals_offset_drain(diff_rig, spec):
    """Keyset paging drains the SAME ordered id sequence as the oracle:
    repeatedly resume strictly after the last (ts, rid) cursor."""
    table, con, _ = diff_rig
    filt, (f_ms, t_ms), order, _size, _offset = spec
    want = _duck_page_ids(con, (filt, (f_ms, t_ms), order, None, 0))
    got: list = []
    cursor = (None, None)
    while True:
        page = table.search_after(
            _render(filt), last_ts_ms=cursor[0], last_rid=cursor[1],
            size=17, order=order, from_ms=f_ms, to_ms=t_ms,
        ).select("id", "ts").collect()
        if not page:
            break
        got.extend(r["id"] for r in page)
        import calendar

        last = page[-1]
        cursor = (
            calendar.timegm(last["ts"].timetuple()) * 1000
            + last["ts"].microsecond // 1000,
            last["id"],
        )
        if len(page) < 17:
            break
    assert got == want, (spec, _render(filt), len(got), len(want))


@st.composite
def _hist_spec(draw):
    filt = draw(st.one_of(st.just(("all",)), _diff_spec))
    interval = draw(st.sampled_from([1000, 7000, 60_000]))
    if draw(st.booleans()):
        a = draw(st.integers(0, _DIFF_SPAN_S))
        b = draw(st.integers(0, _DIFF_SPAN_S))
        lo, hi = sorted((a, b))
        window = (_DIFF_EPOCH_MS + lo * 1000, _DIFF_EPOCH_MS + hi * 1000)
    else:
        window = (None, None)
    return (filt, interval, window)


@settings(max_examples=15, deadline=None)
@given(st.lists(_hist_spec(), min_size=3, max_size=3))
def test_histogram_and_total_differential(diff_rig, specs):
    """with_total counts and date-histogram buckets equal the DuckDB
    replay over random (filter, interval, window) shapes."""
    table, con, _ = diff_rig
    for filt, interval, (f_ms, t_ms) in specs:
        conds = [_duck_expr(filt)]
        if f_ms is not None:
            conds += [f"ts_ms >= {f_ms}", f"ts_ms <= {t_ms}"]
        where = " AND ".join(conds)
        q = _render(filt)
        got_total = table.total(q, from_ms=f_ms, to_ms=t_ms).head()["total"]
        want_total = con.execute(
            f"SELECT count(*) FROM diffdocs WHERE {where}").fetchone()[0]
        assert got_total == want_total, (q, f_ms, t_ms)
        got_hist = sorted(
            (r["bucket_ms"], r["cnt"])
            for r in table.histogram(
                q, interval_ms=interval, from_ms=f_ms, to_ms=t_ms
            ).collect()
        )
        want_hist = sorted(con.execute(
            f"SELECT ts_ms - ts_ms % {interval}, count(*) FROM diffdocs "
            f"WHERE {where} GROUP BY 1").fetchall())
        assert got_hist == want_hist, (q, interval, f_ms, t_ms)


# --- ComplexSearch differential fuzz (r13, verdict #6): ONE random query
# + window drives docs-page, with_total, date histogram and MULTIPLE
# simultaneous aggregations through complex_search's single-scan
# multi-output path (`frac/processor/search.go:71-85` semantics), each
# output checked against its independent DuckDB replay; an optional
# `| fields` pipe must project the returned docs without perturbing
# filtering, ordering or any sibling output.

_COMPLEX_PIPE_FIELDS = ["service", "code", "msg"]


@st.composite
def _complex_spec(draw):
    filt = draw(st.one_of(st.just(("all",)), _diff_spec))
    if draw(st.booleans()):
        a = draw(st.integers(0, _DIFF_SPAN_S))
        b = draw(st.integers(0, _DIFF_SPAN_S))
        lo, hi = sorted((a, b))
        window = (_DIFF_EPOCH_MS + lo * 1000, _DIFF_EPOCH_MS + hi * 1000)
    else:
        window = (None, None)
    order = draw(st.sampled_from(["asc", "desc"]))
    size = draw(st.sampled_from([0, 7, 50]))
    offset = draw(st.sampled_from([0, 3]))
    hist_interval = draw(st.sampled_from([None, 1000, 60_000]))
    n_aggs = draw(st.integers(1, 3))
    aggs = [_draw_agg(draw, filt) for _ in range(n_aggs)]
    pipe = draw(st.one_of(
        st.none(),
        st.lists(st.sampled_from(_COMPLEX_PIPE_FIELDS), min_size=1,
                 max_size=2, unique=True),
    ))
    return (filt, window, order, size, offset, hist_interval, aggs, pipe)


@settings(max_examples=20, deadline=None)
@given(_complex_spec())
def test_complex_search_differential(diff_rig, spec):
    import math

    table, con, _ = diff_rig
    filt, (f_ms, t_ms), order, size, offset, hist_iv, agg_specs, pipe = spec
    q = _render(filt)
    res = table.complex_search(
        q, from_ms=f_ms, to_ms=t_ms, size=size, offset=offset, order=order,
        with_total=True, hist_interval_ms=hist_iv,
        aggs=[_agg_query(a) for a in agg_specs],
    )
    # the shared time window, applied to every oracle replay via a
    # temp view (the agg SQL builder reads the filter from the spec)
    conds = []
    if f_ms is not None:
        conds += [f"ts_ms >= {f_ms}", f"ts_ms <= {t_ms}"]
    con.execute(
        "CREATE OR REPLACE TEMP VIEW cfuzz AS SELECT * FROM diffdocs"
        + (f" WHERE {' AND '.join(conds)}" if conds else "")
    )

    # docs page (size=0 means "no docs" in complex, like the proxy)
    rows_full = []
    want_ids = []
    if size > 0:
        rows_full = res.docs
        got_ids = [r["id"] for r in rows_full]
        want_ids = _duck_page_ids(
            con, (filt, (f_ms, t_ms), order, size, offset))
        assert got_ids == want_ids, (q, order, size, offset)

    # total
    where = _duck_expr(filt)
    want_total = con.execute(
        f"SELECT count(*) FROM cfuzz WHERE {where}").fetchone()[0]
    assert res.total_count == want_total, q

    # histogram
    if hist_iv is not None:
        got_hist = res.histogram_rows  # ascending already
        want_hist = sorted(con.execute(
            f"SELECT ts_ms - ts_ms % {hist_iv}, count(*) FROM cfuzz "
            f"WHERE {where} GROUP BY 1").fetchall())
        assert got_hist == want_hist, (q, hist_iv)

    # every aggregation, all from the SAME fused job
    for a_spec, buckets in zip(agg_specs, res.agg_buckets):
        got = _norm_bucket_rows(
            (r["mid_ms"], r["name"], r["value"], r["not_exists"])
            for r in buckets
        )
        want = _norm_bucket_rows(con.execute(
            _duck_agg_sql(a_spec).replace("FROM diffdocs", "FROM cfuzz")
        ).fetchall())
        assert len(got) == len(want), (q, a_spec, len(got), len(want))
        for g, w in zip(got, want):
            assert g[0] == w[0] and g[1] == w[1] and g[3] == w[3], (
                q, a_spec, g, w)
            if isinstance(g[2], str) or isinstance(w[2], str):
                assert g[2] == w[2], (q, a_spec, g, w)
            else:
                assert math.isclose(g[2], w[2], rel_tol=1e-9,
                                    abs_tol=1e-9), (q, a_spec, g, w)

    # fields pipe: projects the returned docs to EXACTLY the named
    # columns, perturbing neither filtering, ordering nor the total
    if pipe is not None and size > 0:
        piped = table.complex_search(
            f"{q} | fields {', '.join(pipe)}",
            from_ms=f_ms, to_ms=t_ms, size=size, offset=offset,
            order=order, with_total=True, hist_interval_ms=None, aggs=[],
        )
        rows = piped.docs
        assert set(rows[0].asDict().keys()) == set(pipe) if rows \
            else len(want_ids) == 0, (q, pipe)
        assert len(rows) == len(rows_full), (q, pipe)
        for got_r, full_r in zip(rows, rows_full):
            for c in pipe:
                assert got_r[c] == full_r[c], (q, pipe, c)
        assert piped.total_count == want_total, (q, pipe)
