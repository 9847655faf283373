"""Tests for the benchmark's own pieces: seeded inputs, the percentile
helper, span self-time arithmetic and the answer checks.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import corpus  # noqa: E402
import layers  # noqa: E402
from stats import covered, percentile, self_times  # noqa: E402


def _inputs(seed):
    docs = corpus.make_corpus(seed, 3, 40)
    stream = corpus.IngestStream(seed, 3, 50)
    return (
        [d.line for d in docs],
        corpus.bulk_body(docs),
        [r.key() for r in corpus.dashboard_requests(3)],
        [r.key() for r in corpus.adhoc_requests(seed, 50)],
        [corpus.bulk_body(stream.docs(k)) for k in (0, 7, 19)],
    )


def test_same_seed_gives_identical_inputs():
    assert _inputs(7) == _inputs(7)


def test_other_seed_gives_other_inputs():
    a, b = _inputs(7), _inputs(8)
    assert a[0] != b[0] and a[1] != b[1] and a[3] != b[3] and a[4] != b[4]
    assert a[2] == b[2]  # the dashboard bodies are fixed


def test_corpus_stamps_are_distinct_and_bucketed():
    docs = corpus.make_corpus(1, 4, 100)
    stamps = [d.ms for d in docs]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)
    assert {(d.ms - corpus.BASE_MS) // corpus.HOUR_MS for d in docs} == {0, 1, 2, 3}


def test_ingest_stream_fills_each_hour_with_two_bulks():
    stream = corpus.IngestStream(1, 12, 100)
    seen = set()
    for k in range(30):
        docs = stream.docs(k)
        assert [d.ms for d in docs] == sorted(d.ms for d in docs)
        hour = 12 + k // 2
        assert stream.hour_ms(k) == corpus.BASE_MS + hour * corpus.HOUR_MS
        assert {(d.ms - corpus.BASE_MS) // corpus.HOUR_MS for d in docs} == {hour}
        seen.update(d.ms for d in docs)
    assert len(seen) == 3000
    with pytest.raises(IndexError):
        stream.docs(-1)


def test_adhoc_requests_never_repeat_and_anchor_on_the_newest_hour():
    reqs = corpus.adhoc_requests(3, 400)
    assert len({r.key() for r in reqs}) == 400
    assert {r.transport for r in reqs} == {"http", "grpc"}
    assert all(r.size <= 100 for r in reqs)
    assert {r.to_ms + 1 - r.from_ms for r in reqs} == {
        corpus.HOUR_MS // 3, 2 * corpus.HOUR_MS // 3, corpus.HOUR_MS}
    hour = corpus.BASE_MS + 20 * corpus.HOUR_MS
    for r in reqs:
        a = corpus.anchored(r, hour)
        assert hour <= a.to_ms < hour + corpus.HOUR_MS  # ends in the newest hour
        assert a.from_ms >= hour - corpus.HOUR_MS  # and reads one hour more at most
        assert a.to_ms - a.from_ms == r.to_ms - r.from_ms
        assert a.query == r.query and a.size == r.size


def test_percentile_matches_known_values():
    xs = [15, 20, 35, 40, 50]
    assert percentile(xs, 0) == 15
    assert percentile(xs, 50) == 35
    assert percentile(xs, 100) == 50
    assert percentile(xs, 40) == pytest.approx(29.0)  # NumPy linear: 29.0
    assert percentile(list(range(1, 11)), 95) == pytest.approx(9.55)
    assert percentile([3.0], 95) == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_shape_medians_are_combined_by_geometric_mean():
    import run
    from client import Op

    def op(kind, shape, cpu, wrong=None):
        o = Op(kind, "http", 0.0, 1.0, cpu_ms=cpu, wrong=wrong)
        o.ctx["shape"] = shape
        return o

    ops = [op("search", 0, 100), op("search", 0, 300), op("search", 0, 200),
           op("search", 1, 400), op("search", 1, 900, wrong="bad"),
           op("bulk", 0, 5000)]
    # medians 200 and 400; the failed op and the other kind do not count
    assert run._by_shape(ops, "search", lambda o: o.cpu_ms) == pytest.approx(
        (200 * 400) ** 0.5)
    assert run._by_shape(ops, "complex", lambda o: o.cpu_ms) is None


def test_covered_counts_overlaps_once_and_clips():
    assert covered(0, 100, [(10, 30), (20, 50)]) == 40
    assert covered(0, 100, [(-10, 5), (95, 200)]) == 10
    assert covered(0, 100, []) == 0


def test_self_time_subtracts_direct_children_only():
    spans = [
        {"id": 1, "parent": -1, "start": 0, "end": 100},
        {"id": 2, "parent": 1, "start": 10, "end": 40},
        {"id": 3, "parent": 2, "start": 15, "end": 35},
        {"id": 4, "parent": 1, "start": 50, "end": 60},
    ]
    st = self_times(spans)
    assert st == {1: 100 - 30 - 10, 2: 30 - 20, 3: 20, 4: 10}
    assert sum(st.values()) == 100  # self times partition the root


def test_per_layer_reads_a_synthetic_trace():
    class Op:
        transport, error, latency_ms = "http", None, 12.0

    ms = 1_000_000
    spans = [
        [1, "server.handler", -1, 0, 0 * ms, 10 * ms],
        [2, "engine.search", 1, 0, 1 * ms, 9 * ms],
        [3, "seqql.parse", 2, 0, 2 * ms, 3 * ms],
        [4, "engine.collect", 2, 0, 4 * ms, 8 * ms],
        [5, "server.handler", -1, 0, 20 * ms, 30 * ms],
        [6, "engine.search", 5, 0, 21 * ms, 29 * ms],  # plan-cache hit
        [7, "engine.collect", 6, 0, 22 * ms, 28 * ms],
    ]
    dump = {"spans": spans, "jobs": [], "stages": []}
    m = layers.per_layer(dump, [Op(), Op()], [(0, 40 * ms)], [(0, 40 * ms)], 1.0)
    assert m["engine.plan_cache_hit_ratio"] == 0.5
    assert m["seqql.parses_per_op"] == 0.5
    assert m["server.handler_self_ms"] == pytest.approx((2 + 2) / 2)
    assert m["engine.build_self_ms"] == pytest.approx((8 - 1 - 4 + 8 - 6) / 2)
    assert m["engine.collect_ms"] == pytest.approx(5.0)
    assert m["server.http_overhead_ms"] == pytest.approx(2.0)
    assert set(m) == set(layers.MOVES)


def _req(**kw):
    base = dict(kind="search", transport="http", filters=(), size=3)
    base.update(kw)
    return corpus.Request(**base)


def test_expected_answers_and_checks():
    docs = corpus.make_corpus(5, 2, 30)
    req = _req(filters=(("kw", "event_type", ("click", "view")),),
               with_total=True)
    exp = corpus.expected(req, docs)
    hits = [d for d in docs if d.event_type in ("click", "view")]
    assert exp["total"] == len(hits)
    assert exp["page"] == [(d.ms, d.event_id)
                           for d in sorted(hits, key=lambda d: -d.ms)[:3]]
    answer = {"page": [(ms, 0, e) for ms, e in exp["page"]],
              "total": exp["total"], "histogram": None, "aggs": []}
    assert corpus.check(req, answer, exp) is None
    wrong = dict(answer, page=answer["page"][::-1])
    assert "page" in corpus.check(req, wrong, exp)
    assert "total" in corpus.check(req, dict(answer, total=0), exp)
    shifted = [(ms + 1, rid, e) for ms, rid, e in answer["page"]]
    assert "page" in corpus.check(req, dict(answer, page=shifted), exp)


def test_render_matches_the_seqql_spelling():
    assert corpus.render(()) == "*"
    assert corpus.render((("kw", "a", ("x", "y")), ("range", "v", 1, 5))) == \
        "(a:x or a:y) and v:[1, 5)"
    assert corpus.render((("words", "p", ("ka", "lo")), ("prefix", "p", "mi"))) == \
        'p:"ka lo" and p:mi*'
