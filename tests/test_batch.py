"""Batched query execution — a query's answer must not depend on its
batch-mates.

SearchEngine.search(q) is search_batch([q])[0] and FastTopK.search(**spec)
is search_many([spec])[0]: one core each (api.SearchEngine._run_batch,
execution.wand.FastTopK._run). A micro-batch is answered with at most two
kernel Spark jobs plus one shared hydration scan, each (qid, shard) group
dispatched to the query's unmodified kernel closure. These tests compare a
batch of N with N batches of one over every serving query shape (the bench
suite), pagination cursors round-tripping across the two, per-query
routing (champion sidecar / match-all kernel) staying intact, seeded
fuzz over mixed batches, per-slot error isolation, and the structural
claim itself — no hidden per-query jobs for batchable shapes.

Reference note: the reference has no batching analog (an in-process
tantivy searcher has no per-query scheduling floor, cantine/src/main.rs
handles each request on its own actix worker). The ground truth for the
answers themselves is the independent oracle (oracle.py, the goldens),
checked elsewhere; here the batch of one is only the comparison point.
"""

from __future__ import annotations

import numpy as np
import pytest

from cantine_spark.api import SearchEngine
from cantine_spark.execution.wand import FastTopK

SUITE = [
    {"fulltext": "def", "num_items": 10},
    {"fulltext": "uniqterm00000042", "num_items": 10},
    {"fulltext": "parse00001 merge00000 scan00003"},
    {"fulltext": "+def -import"},
    {"fulltext": '"permission is hereby granted"'},
    {"fulltext": "path:src def return"},
    {"fulltext": "def", "filter": {"num_lines": [10, 40]}},
    {"fulltext": "def", "sort": "num_lines",
     "filter": {"num_lines": [10, 40]}},
    {"fulltext": "def",
     "agg": {"num_lines": [[0, 20], [20, 40], [40, 100]],
             "content_bytes": [[0, 2000], [2000, 100000]]}},
    {"fulltext": "def", "sort": "num_lines", "ascending": True},
    {"fulltext": "zzz_nonexistent_term"},
]


@pytest.fixture(scope="module")
def engine(reader):
    return SearchEngine(reader)


def _assert_result_equal(a, b, ctx=""):
    assert a.total_found == b.total_found, ctx
    assert a.items == b.items, ctx
    assert a.next == b.next, ctx
    assert a.agg == b.agg, ctx


def test_batch_equals_single_full_suite(engine):
    singles = [engine.search(dict(q)) for q in SUITE]
    batched = engine.search_batch([dict(q) for q in SUITE])
    for q, a, b in zip(SUITE, singles, batched):
        _assert_result_equal(a, b, ctx=str(q))


def test_batch_of_one_equals_single(engine):
    for q in (SUITE[0], SUITE[7], SUITE[8]):
        a = engine.search(dict(q))
        [b] = engine.search_batch([dict(q)])
        _assert_result_equal(a, b, ctx=str(q))


def test_batch_pagination_cursors_interchangeable(engine):
    """A cursor minted by either path must paginate identically through
    the other — the 25-byte wire format carries (sort_val, uuid) only, so
    this pins that batched page-1 picks the same boundary doc."""
    q1 = {"fulltext": "def", "num_items": 5}
    single_p1 = engine.search(dict(q1))
    [batch_p1] = engine.search_batch([dict(q1)])
    assert single_p1.next == batch_p1.next
    q2 = {"fulltext": "def", "num_items": 5, "after": batch_p1.next}
    single_p2 = engine.search(dict(q2))
    [batch_p2] = engine.search_batch([dict(q2)])
    _assert_result_equal(single_p2, batch_p2, "page2")
    assert batch_p2.items[0]["doc_id"] not in [
        i["doc_id"] for i in batch_p1.items]


def test_batch_walks_whole_result_set(engine):
    """Exhaustive cursor walk through the batch path: union of pages ==
    the full match set, no dup, no gap (the single-path invariant suite
    re-run through search_batch)."""
    seen: list[int] = []
    after = None
    while True:
        q = {"fulltext": "parse00001 merge00000 scan00003", "num_items": 7}
        if after:
            q["after"] = after
        [res] = engine.search_batch([q])
        seen.extend(i["doc_id"] for i in res.items)
        if res.next is None:
            break
        after = res.next
    assert len(seen) == len(set(seen)) == res.total_found


def test_batch_mixed_with_relational_fallback(engine):
    """Match-all / pure-negative trees draw their candidates from the
    sidecar in the same kernel job; they must ride the same batch call
    unharmed, in order."""
    qs = [{"fulltext": "def", "num_items": 5},
          {"fulltext": "-def"},             # pure negative
          {"filter": {"num_lines": [3, 40]}, "num_items": 4},  # match-all
          {"fulltext": "uniqterm00000042"}]
    singles = [engine.search(dict(q)) for q in qs]
    batched = engine.search_batch([dict(q) for q in qs])
    for q, a, b in zip(qs, singles, batched):
        _assert_result_equal(a, b, ctx=str(q))


def test_batch_gated_agg_falls_back_solo(reader):
    """With an agg gate configured the two-pass form needs per-query
    totals first — search_batch must route those solo and still match."""
    gated = SearchEngine(reader, agg_threshold=10**6)
    q = dict(SUITE[8])
    a = gated.search(dict(q))
    [b] = gated.search_batch([dict(q)])
    _assert_result_equal(a, b, "gated agg")


def test_batch_no_hidden_solo_jobs(engine, monkeypatch):
    """Structural pin: for batchable shapes search_batch must never fall
    back to per-query FastTopK.search — the whole point is ONE kernel job
    for the batch (plus the champion batch job)."""
    def boom(*a, **k):
        raise AssertionError("solo FastTopK.search called for a "
                             "batchable query shape")
    monkeypatch.setattr(FastTopK, "search", boom)
    qs = [dict(SUITE[0]), dict(SUITE[3]), dict(SUITE[6]), dict(SUITE[8])]
    res = engine.search_batch(qs)
    assert len(res) == 4 and all(r is not None for r in res)


def test_batch_single_hydration_scan(engine, monkeypatch):
    """The batch hydrates the union of winners in ONE pruned isin scan."""
    calls = []
    orig = type(engine.executor).hydrate_ids

    def counting(self, ids, columns=None):
        calls.append(list(ids))
        return orig(self, ids, columns)

    monkeypatch.setattr(type(engine.executor), "hydrate_ids", counting)
    res = engine.search_batch([dict(SUITE[0]), dict(SUITE[5]),
                               dict(SUITE[7])])
    assert len(calls) == 1
    # every returned item was hydrated from that one scan
    hydrated = set(calls[0])
    for r in res:
        for it in r.items:
            assert it["doc_id"] in hydrated


def test_randomized_batches_vs_single(engine):
    """Seeded fuzz: random mixed batches (sizes 2-8) of dict queries over
    hot/rare/garbage terms, filters, sorts, aggs, phrases, negations —
    every batch member must equal its solo run exactly."""
    rng = np.random.default_rng(20260817)
    vocab = ["def", "return", "import", "self", "uniqterm00000042",
             "parse00001", "merge00000", "zzznope", "src", "license"]
    feats = ["num_lines", "content_bytes", "avg_line_len"]

    def rand_query():
        q: dict = {"fulltext": " ".join(
            ("+" if rng.random() < 0.15 else
             "-" if rng.random() < 0.1 else "")
            + vocab[int(rng.integers(len(vocab)))]
            for _ in range(1 + int(rng.integers(3))))}
        if rng.random() < 0.2:
            q["fulltext"] = '"permission is hereby granted"'
        q["num_items"] = int(rng.integers(1, 30))
        if rng.random() < 0.4:
            f = feats[int(rng.integers(len(feats)))]
            lo = int(rng.integers(0, 50))
            q["filter"] = {f: [lo, lo + int(rng.integers(1, 3000))]}
        if rng.random() < 0.35:
            q["sort"] = feats[int(rng.integers(len(feats)))]
            q["ascending"] = bool(rng.random() < 0.5)
        if rng.random() < 0.3:
            af = feats[int(rng.integers(len(feats)))]
            cut = int(rng.integers(1, 60))
            q["agg"] = {af: [[0, cut], [cut, 10**6]]}
        return q

    for round_ in range(6):
        batch = [rand_query() for _ in range(2 + int(rng.integers(7)))]
        singles = [engine.search(dict(q)) for q in batch]
        batched = engine.search_batch([dict(q) for q in batch])
        for q, a, b in zip(batch, singles, batched):
            _assert_result_equal(a, b, ctx=f"round {round_}: {q}")


def test_batch_isolates_per_query_errors(engine):
    """VERDICT r5 brief #7 + ADVICE (medium): one bad cursor in a batch of
    three fails ONLY its own slot — that slot holds the BadRequest instance
    and its batch-mates answer exactly as they would solo. Previously the
    whole batch raised on the first invalid query, so a stale cursor from
    one HTTP client 400'd every request coalesced into its window."""
    from cantine_spark.api import BadRequest
    from cantine_spark.cursor import SearchCursor

    good1 = {"fulltext": "def", "num_items": 5}
    good2 = {"fulltext": "uniqterm00000042"}
    solo1 = engine.search(dict(good1))
    solo2 = engine.search(dict(good2))

    # undecodable cursor string
    bad_wire = {"fulltext": "def", "after": "!!not-a-cursor!!"}
    r = engine.search_batch([dict(good1), dict(bad_wire), dict(good2)])
    assert isinstance(r[1], BadRequest)
    _assert_result_equal(r[0], solo1, "slot 0 beside bad wire cursor")
    _assert_result_equal(r[2], solo2, "slot 2 beside bad wire cursor")

    # valid wire format, unknown uuid (the reference's 400 on an unknown
    # cursor doc, main.rs:53-76)
    ghost = SearchCursor.relevance(1.0, b"\x00" * 16).encode()
    r = engine.search_batch([dict(good1), {"fulltext": "def", "after": ghost}])
    assert isinstance(r[1], BadRequest)
    _assert_result_equal(r[0], solo1, "slot 0 beside ghost uuid")

    # cursor tag does not match the sort mode
    page1 = engine.search({"fulltext": "def", "num_items": 3})
    mismatched = {"fulltext": "def", "sort": "num_lines",
                  "after": page1.next}
    r = engine.search_batch([dict(mismatched), dict(good2)])
    assert isinstance(r[0], BadRequest)
    _assert_result_equal(r[1], solo2, "slot 1 beside tag-mismatch cursor")


def test_batch_isolates_malformed_query_shapes(engine):
    """Wrong JSON types (str num_items, list filter) must come back as
    per-slot BadRequests, never TypeErrors escaping the batch."""
    from cantine_spark.api import BadRequest

    good = {"fulltext": "def", "num_items": 3}
    solo = engine.search(dict(good))
    r = engine.search_batch([
        {"fulltext": "def", "num_items": "10"},
        {"fulltext": "def", "filter": ["num_lines", 0, 10]},
        dict(good),
    ])
    assert isinstance(r[0], BadRequest)
    assert isinstance(r[1], BadRequest)
    _assert_result_equal(r[2], solo, "good slot beside malformed shapes")


def test_batch_all_invalid_returns_all_errors(engine):
    from cantine_spark.api import BadRequest

    r = engine.search_batch([{"bogus": 1}, {"num_items": 0}])
    assert all(isinstance(x, BadRequest) for x in r)


def test_search_raises_what_search_batch_returns(engine):
    """search() raises the BadRequest that search_batch() returns in the
    slot of a stale cursor, while the slot's batch-mates still answer."""
    from cantine_spark.api import BadRequest
    from cantine_spark.cursor import SearchCursor

    ghost = SearchCursor.relevance(1.0, b"\x00" * 16).encode()
    stale = {"fulltext": "def", "after": ghost}
    good = {"fulltext": "def", "num_items": 5}
    with pytest.raises(BadRequest, match="unknown uuid"):
        engine.search(dict(stale))
    r = engine.search_batch([dict(stale), dict(good)])
    assert isinstance(r[0], BadRequest) and "unknown uuid" in str(r[0])
    _assert_result_equal(r[1], engine.search(dict(good)), "batch-mate")
