"""Seeded inputs of the benchmark and the answers they must produce.

Everything here is plain Python and depends only on the seed: the same
seed gives byte-identical documents, bulk bodies and request lists. Each
request is built from a small filter spec, and the same spec renders the
seq-ql text sent to the server and evaluates the expected answer over the
corpus, so an answer check never asks the server what the answer is.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass, replace
from typing import Dict, List, Optional, Sequence, Tuple

#: 2024-01-01T00:00:00Z; the store keeps one bucket per hour after it
BASE_MS = 1_704_067_200_000
HOUR_MS = 3_600_000

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
EVENT_WEIGHTS = (40, 30, 15, 10, 5)
_SYLLABLES = ("ka", "lo", "mi", "nu", "pe", "ra", "si", "to",
              "vu", "ze", "bo", "da")
#: 96 two-syllable words: each sits in ~5% of docs, under the index's
#: 10% selectivity cut, so text filters route through the posting lists
WORDS = tuple(a + b for a in _SYLLABLES for b in _SYLLABLES[:8])

MAPPING_YAML = (
    "mapping-list:\n"
    "  - {name: event_id, type: keyword}\n"
    "  - {name: event_type, type: keyword}\n"
    "  - {name: user_id, type: keyword}\n"
    "  - {name: value, type: keyword}\n"
    "  - {name: props, type: text}\n"
)


@dataclass(frozen=True)
class Doc:
    ms: int
    event_id: str
    event_type: str
    user_id: str
    value: int
    words: Tuple[str, ...]
    line: str


def _stamp(ms: int) -> str:
    t = dt.datetime.fromtimestamp(ms // 1000, tz=dt.timezone.utc)
    return t.strftime("%Y-%m-%d %H:%M:%S") + f".{ms % 1000:03d}"


def make_doc(rng: random.Random, ms: int, event_id: str) -> Doc:
    event_type = rng.choices(EVENT_TYPES, EVENT_WEIGHTS)[0]
    user_id = str(rng.randrange(500))
    value = rng.randrange(1000)
    words = tuple(rng.choice(WORDS) for _ in range(rng.randint(3, 6)))
    line = json.dumps(
        {
            "timestamp": _stamp(ms),
            "event_id": event_id,
            "event_type": event_type,
            "user_id": user_id,
            "value": value,
            "props": " ".join(words),
        },
        separators=(",", ":"),
    )
    return Doc(ms, event_id, event_type, user_id, value, words, line)


def _distinct_ms(rng: random.Random, start_ms: int, span_ms: int, n: int) -> List[int]:
    """``n`` distinct sorted millisecond stamps in ``[start, start+span)``;
    distinct stamps make the (mid, rid) result order a pure time order."""
    return sorted(start_ms + off for off in rng.sample(range(span_ms), n))


def make_corpus(seed: int, hours: int, per_hour: int) -> List[Doc]:
    """The store built at set-up: ``per_hour`` docs in each of ``hours``
    hour buckets starting at :data:`BASE_MS`, in time order."""
    rng = random.Random(f"corpus-{seed}")
    docs: List[Doc] = []
    for h in range(hours):
        for ms in _distinct_ms(rng, BASE_MS + h * HOUR_MS, HOUR_MS, per_hour):
            docs.append(make_doc(rng, ms, f"c{len(docs):07d}"))
    return docs


def bulk_body(docs: Sequence[Doc]) -> bytes:
    """ES ``/_bulk`` NDJSON: one ``index`` action line per document."""
    out = []
    for d in docs:
        out.append('{"index":{}}')
        out.append(d.line)
    return ("\n".join(out) + "\n").encode()


class IngestStream:
    """Seeded shipper input for the ``ingest`` workload: bulk ``k`` holds
    ``per_bulk`` docs with strictly increasing stamps in hour
    ``first_hour + k // 2``. Bulk ``k`` depends only on (seed, k), so a
    run that ships more bulks than another still agrees with it on every
    bulk both shipped.

    Every hour takes two bulks, so an even bulk opens a bucket and an odd
    one completes it, and what a read, a compaction or an index refresh
    touches does not grow with the number of bulks a run got through."""

    def __init__(self, seed: int, first_hour: int, per_bulk: int):
        self.seed = seed
        self.first_hour = first_hour
        self.per_bulk = per_bulk
        # the two bulks of an hour take alternate slots of it
        self.step_ms = HOUR_MS // (2 * per_bulk)

    def hour_ms(self, k: int) -> int:
        """Start of the hour bucket bulk ``k`` writes into."""
        return BASE_MS + (self.first_hour + k // 2) * HOUR_MS

    def docs(self, k: int) -> List[Doc]:
        if k < 0:
            raise IndexError(k)
        rng = random.Random(f"ingest-{self.seed}-{k}")
        start = self.hour_ms(k)
        out = []
        for j in range(self.per_bulk):
            ms = start + (2 * j + k % 2) * self.step_ms + rng.randrange(self.step_ms)
            out.append(make_doc(rng, ms, f"i{k:05d}-{j:05d}"))
        return out


# ---------------------------------------------------------------- filters
#
# A filter spec is a tuple list ANDed together:
#   ("kw", field, (v, ...))      keyword equality, OR over the values
#   ("range", field, lo, hi)     numeric [lo, hi)
#   ("words", field, (w, ...))   text tokens, all present (seq-ql AND)
#   ("prefix", field, p)         text token starting with p (p*)
# An empty list matches every document.


def render(filters: Sequence[tuple]) -> str:
    parts = []
    for f in filters:
        kind = f[0]
        if kind == "kw":
            alts = [f"{f[1]}:{v}" for v in f[2]]
            parts.append(alts[0] if len(alts) == 1 else "(" + " or ".join(alts) + ")")
        elif kind == "range":
            parts.append(f"{f[1]}:[{f[2]}, {f[3]})")
        elif kind == "words":
            parts.append(f'{f[1]}:"{" ".join(f[2])}"')
        elif kind == "prefix":
            parts.append(f"{f[1]}:{f[2]}*")
        else:
            raise ValueError(kind)
    return " and ".join(parts) if parts else "*"


def _field(d: Doc, name: str):
    return {"event_type": d.event_type, "user_id": d.user_id,
            "value": d.value, "event_id": d.event_id}[name]


def matches(d: Doc, filters: Sequence[tuple]) -> bool:
    for f in filters:
        kind = f[0]
        if kind == "kw":
            if str(_field(d, f[1])) not in f[2]:
                return False
        elif kind == "range":
            if not f[2] <= _field(d, f[1]) < f[3]:
                return False
        elif kind == "words":
            if not set(f[2]) <= set(d.words):
                return False
        elif kind == "prefix":
            if not any(w.startswith(f[2]) for w in d.words):
                return False
    return True


@dataclass
class Request:
    """One operation the load generator sends.

    ``kind`` is ``search`` or ``complex``; ``transport`` is ``http`` or
    ``grpc``. ``aggs`` holds (func, field, group_by) triples."""

    kind: str
    transport: str
    filters: tuple
    from_ms: Optional[int] = None
    to_ms: Optional[int] = None
    size: int = 0
    offset: int = 0
    order: str = "desc"
    with_total: bool = False
    hist_ms: Optional[int] = None
    aggs: tuple = ()

    @property
    def query(self) -> str:
        return render(self.filters)

    def http_body(self) -> dict:
        body: dict = {"query": self.query, "size": self.size}
        if self.from_ms is not None:
            body["from_ms"] = self.from_ms
            body["to_ms"] = self.to_ms
        if self.offset:
            body["offset"] = self.offset
        if self.order != "desc":
            body["order"] = self.order
        if self.with_total:
            body["with_total"] = True
        if self.hist_ms is not None:
            body["hist_interval_ms"] = self.hist_ms
        if self.aggs:
            body["aggs"] = [
                {k: v for k, v in (("func", fn), ("field", fld), ("group_by", gb))
                 if v is not None}
                for fn, fld, gb in self.aggs
            ]
        return body

    def key(self) -> str:
        return json.dumps([self.kind, self.transport, self.http_body()],
                          sort_keys=True)


def expected(req: Request, docs: Sequence[Doc]) -> dict:
    """The answer ``req`` must get from a store holding ``docs``: the
    (mid, event id) pairs of the page in (mid, rid) order, the total, the
    histogram and the agg buckets, in the server's HTTP response
    vocabulary. Stamps are distinct, so mid alone fixes the order."""
    hit = [d for d in docs if matches(d, req.filters)
           and (req.from_ms is None or req.from_ms <= d.ms <= req.to_ms)]
    hit.sort(key=lambda d: d.ms, reverse=req.order == "desc")
    out: dict = {
        "page": [(d.ms, d.event_id) for d in hit[req.offset:req.offset + req.size]],
        "total": len(hit),
    }
    if req.hist_ms is not None:
        hist: Dict[int, int] = {}
        for d in hit:
            b = d.ms - d.ms % req.hist_ms
            hist[b] = hist.get(b, 0) + 1
        out["histogram"] = hist
    out["aggs"] = [_agg(hit, fn, fld, gb) for fn, fld, gb in req.aggs]
    return out


def _agg(hit: Sequence[Doc], fn: str, fld: Optional[str], gb: Optional[str]) -> Dict[str, float]:
    """{bucket name: value} for count-by-field and min/max-by-group."""
    groups: Dict[str, List[Doc]] = {}
    key = fld if fn == "count" else gb
    for d in hit:
        groups.setdefault(str(_field(d, key)), []).append(d)
    if fn == "count":
        return {k: float(len(v)) for k, v in groups.items()}
    pick = min if fn == "min" else max
    return {k: float(pick(_field(d, fld) for d in v)) for k, v in groups.items()}


# --------------------------------------------------------------- workloads


def dashboard_requests(hours: int) -> List[Request]:
    """The six k6 query shapes as eight fixed HTTP request bodies."""
    window = (BASE_MS, BASE_MS + hours * HOUR_MS - 1)
    return [
        # seq-db-paging.js: match-all, ascending, pages of 100
        Request("search", "http", (), size=100, offset=0, order="asc"),
        Request("search", "http", (), size=100, offset=100, order="asc"),
        # seq-db-fetch-5k-fulltext.js: keyword OR, 5k docs
        Request("search", "http",
                (("kw", "event_type", ("purchase", "signup", "error")),),
                size=5000),
        # seq-db-fetch-5k-range.js: numeric range, 5k docs
        Request("search", "http", (("range", "value", 100, 400),), size=5000),
        Request("search", "http", (("kw", "event_type", ("view",)),),
                size=50, with_total=True),
        # seq-db-aggs.js: COUNT by keyword, size 0
        Request("complex", "http", (), aggs=(("count", "event_type", None),)),
        # seq-db-aggs-min-by-status.js: MIN group-by
        Request("complex", "http", (),
                aggs=(("min", "value", "event_type"),)),
        # complex: total + hourly histogram + agg over the whole window
        Request("complex", "http", (("range", "value", 0, 500),),
                from_ms=window[0], to_ms=window[1], size=10,
                with_total=True, hist_ms=HOUR_MS,
                aggs=(("count", "event_type", None),)),
    ]


def _filters(rng: random.Random, shape: int) -> tuple:
    if shape == 0:
        return (("kw", "user_id", (str(rng.randrange(500)),)),)
    if shape == 1:
        lo = rng.randrange(990)
        return (("range", "value", lo, lo + rng.randint(5, 200)),)
    if shape == 2:
        return (("words", "props", tuple(rng.sample(WORDS, 2))),)
    return (("prefix", "props", rng.choice(WORDS)[:3]),
            ("kw", "event_type", (rng.choice(EVENT_TYPES),)))


def adhoc_requests(seed: int, n: int) -> List[Request]:
    """``n`` request templates with seeded literals and size <= 100, for
    reads over the newest hour of a growing store: each window ends
    inside hour 0 and spans 20, 40 or 60 minutes back from there, so it
    reads that hour's bucket and at most the one before, however many
    hours the store holds; :func:`anchored` moves it onto the hour the
    last bulk wrote. No two templates are the same, and an anchored
    request keeps its template's literals, so no request text repeats.

    The mix rotates so every run of a few dozen requests holds the same
    shares: search and complex (total + count agg) alternate; transports
    alternate every 4 requests; filter shapes (keyword, range, phrase,
    wildcard) rotate every 8; windows span 20, 40 or 60 minutes in turn."""
    rng = random.Random(f"adhoc-{seed}")
    out: List[Request] = []
    seen = set()
    while len(out) < n:
        i = len(out)
        span = (1 + i % 3) * HOUR_MS // 3
        end = rng.randrange(HOUR_MS)
        filters = _filters(rng, (i // 8) % 4)
        transport = ("http", "grpc")[(i // 4) % 2]
        if i % 2:
            req = Request("complex", transport, filters, end - span + 1, end,
                          with_total=True, aggs=(("count", "event_type", None),))
        else:
            req = Request("search", transport, filters, end - span + 1, end,
                          size=rng.randint(10, 100), with_total=True)
        if req.key() in seen:
            continue
        seen.add(req.key())
        out.append(req)
    return out


def anchored(req: Request, hour_ms: int) -> Request:
    """``req`` with its window moved onto the hour starting at ``hour_ms``."""
    return replace(req, from_ms=req.from_ms + hour_ms,
                               to_ms=req.to_ms + hour_ms)


# ------------------------------------------------------------------ checks


def check(req: Request, answer: dict, exp: dict) -> Optional[str]:
    """None when ``answer`` is what ``req`` must get, else why not."""
    want_page = exp["page"]
    got_page = [(mid, eid) for mid, _rid, eid in answer["page"]]
    if got_page != want_page:
        return f"page {got_page[:3]}... != {want_page[:3]}... ({len(got_page)} vs {len(want_page)})"
    if req.with_total and answer["total"] != exp["total"]:
        return f"total {answer['total']} != {exp['total']}"
    if req.hist_ms is not None and answer["histogram"] != exp["histogram"]:
        return "histogram differs"
    if len(answer["aggs"]) != len(exp["aggs"]):
        return "agg count differs"
    for got, want in zip(answer["aggs"], exp["aggs"]):
        if got != want:
            return f"agg {sorted(got.items())[:3]} != {sorted(want.items())[:3]}"
    return None
