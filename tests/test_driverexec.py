"""Driver-tier execution (execution/driverexec): small-posting queries are
answered by a driver-side pyarrow point read + the SAME kernel closure run
locally — zero Spark jobs — with a lossless cluster fallback.

The contract under test: for every query shape the engine supports, the
driver tier is BIT-EQUAL to the cluster kernel (it runs the same code over
the same rows), it really does avoid Spark jobs, the posting budget gates
it, and any read failure falls back to the cluster kernel silently.
"""

from __future__ import annotations

import pytest

from cantine_spark.execution import driverexec
from cantine_spark.execution.wand import FastTopK
from cantine_spark.index import IndexReader
from cantine_spark.plans.nodes import Boolean, Boost, DisMax, Phrase, Term


@pytest.fixture(scope="module")
def pair(reader):
    """(driver-tier FastTopK, forced-cluster FastTopK) over one index."""
    return FastTopK(reader), FastTopK(reader, use_driver=False)


def _same(a, b, agg=False):
    assert (a.hits, a.total, a.visited) == (b.hits, b.total, b.visited)
    assert a.sort_vals == b.sort_vals
    if agg:
        assert a.agg == b.agg


SHAPES = {
    "term": Term("content", "def"),
    "dismax": DisMax((Term("content", "def"), Term("path", "def")), 0.1),
    "boolean": Boolean(musts=(Term("content", "def"),),
                       shoulds=(Term("content", "return"),),
                       must_nots=(Term("content", "import"),)),
    "boost": Boost(Term("content", "return"), 2.5),
    "phrase": Phrase("content", ("def", "the")),
}


@pytest.mark.parametrize("shape", sorted(SHAPES))
@pytest.mark.parametrize("kw", [{}, {"k": 3}, {"ascending": True}],
                         ids=["k10", "k3", "asc"])
def test_driver_equals_cluster(pair, shape, kw):
    fd, fc = pair
    a, b = fd.search(SHAPES[shape], **kw), fc.search(SHAPES[shape], **kw)
    assert a.driver_served and not b.driver_served
    _same(a, b)


def test_driver_serves_without_spark_job(pair):
    """The whole point: a driver-served query runs ZERO Spark jobs."""
    fd, _ = pair
    fd.search(SHAPES["dismax"], k=5)  # warm the point-read caches
    sc = fd.reader.spark.sparkContext
    tracker = sc.statusTracker()
    before = sorted(tracker.getJobIdsForGroup())
    res = fd.search(SHAPES["dismax"], k=5)
    after = sorted(tracker.getJobIdsForGroup())
    assert res.driver_served and res.hits
    assert before == after, "driver tier ran a Spark job"


def test_pagination_and_cursor_walk_equal(pair):
    fd, fc = pair
    node = SHAPES["dismax"]
    a1, b1 = fd.search(node, k=4), fc.search(node, k=4)
    _same(a1, b1)
    seen = {d for d, _ in a1.hits}
    after = (a1.hits[-1][1], a1.hits[-1][0])
    a2, b2 = fd.search(node, k=4, after=after), fc.search(node, k=4,
                                                          after=after)
    assert a2.driver_served
    _same(a2, b2)
    assert seen.isdisjoint({d for d, _ in a2.hits})


def test_filter_sort_agg_equal(pair):
    fd, fc = pair
    node = SHAPES["term"]
    kw = dict(k=5, filters={"num_lines": (3.0, 80.0)},
              sort_feature="num_lines",
              agg_query={"content_bytes": [(0.0, 2000.0), (2000.0, 1e12)]})
    a, b = fd.search(node, **kw), fc.search(node, **kw)
    assert a.driver_served and not b.driver_served
    _same(a, b, agg=True)


def test_budget_gates_driver_tier(reader):
    """Over-budget multi-leaf trees take the cluster kernel. (Single-term
    queries stay driver-side at ANY budget: the champion-direct read is
    bounded at cap postings per shard regardless of df.)"""
    tiny = FastTopK(reader, driver_max_postings=1)
    res = tiny.search(SHAPES["dismax"], k=5)
    assert not res.driver_served and res.hits
    full = FastTopK(reader)
    _same(res, full.search(SHAPES["dismax"], k=5))
    single = tiny.search(SHAPES["term"], k=5)
    assert single.driver_served and single.champion_served


def _dismax_postings(reader) -> int:
    dfs = FastTopK(reader).executor.term_dfs(
        [("content", "def"), ("path", "def")])
    return sum(dfs.values())


def test_admission_spills_midsize_to_cluster(reader):
    """Concurrency admission: a MID-SIZE query (> budget/8 postings) takes
    the driver tier only when a permit is free — with every permit held
    (DRIVER_PERMITS mid-size driver executions in flight) it spills to the
    cluster kernel with identical results; tiny queries always drive."""
    fd = FastTopK(reader)
    # budget/8 < total: not tiny, so the dismax needs permits
    mid = FastTopK(reader, driver_max_postings=_dismax_postings(reader))
    ref = mid.search(SHAPES["dismax"], k=5)
    assert ref.driver_served
    for _ in range(driverexec.DRIVER_PERMITS):
        assert mid._driver_permits.acquire(blocking=False)
    try:
        spilled = mid.search(SHAPES["dismax"], k=5)
        assert not spilled.driver_served  # every permit busy → cluster
        _same(spilled, ref)
        # tiny queries are exempt from admission (even serialized they
        # beat a scheduler round-trip)
        assert fd.search(SHAPES["term"], k=5).driver_served
    finally:
        for _ in range(driverexec.DRIVER_PERMITS):
            mid._driver_permits.release()
    assert mid.search(SHAPES["dismax"], k=5).driver_served


def test_admission_permit_count_is_driverexec_constant(reader, monkeypatch):
    """The permit count has one home, driverexec.DRIVER_PERMITS: an engine
    opened under DRIVER_PERMITS=1 has exactly one permit, and holding it
    spills mid-size queries."""
    monkeypatch.setattr(driverexec, "DRIVER_PERMITS", 1)
    one = FastTopK(reader, driver_max_postings=_dismax_postings(reader))
    ref = one.search(SHAPES["dismax"], k=5)
    assert ref.driver_served
    assert one._driver_permits.acquire(blocking=False)
    assert not one._driver_permits.acquire(blocking=False)  # only 1 permit
    try:
        spilled = one.search(SHAPES["dismax"], k=5)
        assert not spilled.driver_served
        _same(spilled, ref)
    finally:
        one._driver_permits.release()


def test_midsize_drives_alone_not_in_a_batch(reader):
    """A batch of one keeps the full driver budget under admission; a
    batch of two serves on one driver thread, so only tiny queries drive
    there. Same answers either way."""
    # budget/8 < total ≤ budget/2: mid-size, one permit when alone
    mid = FastTopK(reader, driver_max_postings=2 * _dismax_postings(reader))
    spec = {"node": SHAPES["dismax"], "k": 5}
    [alone] = mid.search_many([spec])
    pair_ = mid.search_many([spec, dict(spec, k=3)])
    assert alone.driver_served
    assert not any(r.driver_served for r in pair_)
    _same(alone, pair_[0])
    _same(mid.search(SHAPES["dismax"], k=3), pair_[1])


VARIANTS = {
    "plain": {},
    "after": {"after": (1.0, 10)},
    "asc": {"ascending": True},
    "sort": {"sort_feature": "num_lines"},
    "filter": {"filters": {"num_lines": (3.0, 80.0)}},
    "agg": {"agg_query": {"content_bytes": [(0.0, 2000.0),
                                            (2000.0, 1e12)]}},
    "nochamp": {"use_champions": False},
}


@pytest.mark.parametrize("variant", sorted(VARIANTS))
@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_search_is_a_batch_of_one(pair, shape, variant):
    """FastTopK.search(**spec) ≡ search_many([spec])[0], field by field —
    route flags and block counters included."""
    import dataclasses

    fd, _ = pair
    spec = {"node": SHAPES[shape], "k": 5, **VARIANTS[variant]}
    a = fd.search(**spec)
    [b] = fd.search_many([spec])
    assert dataclasses.asdict(a) == dataclasses.asdict(b)


def test_unreadable_spec_falls_back_to_cluster(reader, monkeypatch):
    """A failing driver-tier execution falls back to the cluster kernel:
    counted, not driver-served, same answer. (The failure is injected
    into _driver_search rather than into the reader's point spec, which
    the cluster kernel's shard tasks read too.)"""
    fd = FastTopK(reader)
    ref = fd.search(SHAPES["dismax"], k=5)
    assert ref.driver_served

    def unreadable(*a, **kw):
        raise OSError("segments unreadable")

    monkeypatch.setattr(fd, "_driver_search", unreadable)
    before = driverexec.DRIVER_TIER_FALLBACKS
    res = fd.search(SHAPES["dismax"], k=5)
    assert driverexec.DRIVER_TIER_FALLBACKS == before + 1
    assert not res.driver_served  # fell back
    _same(res, ref)


def test_uri_spec_reads_like_posix(spark, index_dir):
    """Non-posix roots (VERDICT r5 "what's wrong" #2 discipline): the
    point reads route through pyarrow.fs, so a file:// URI — which
    os.path/glob cannot handle — must serve driver-side identically."""
    plain = FastTopK(IndexReader(spark, index_dir))
    viauri = FastTopK(IndexReader(spark, "file://" + index_dir))
    a = viauri.search(SHAPES["dismax"], k=5)
    assert a.driver_served
    _same(a, plain.search(SHAPES["dismax"], k=5))


def test_champion_direct_is_driver_side(pair):
    """Single-term relevance page-1: served from the champion sidecar by a
    driver-side point read (champion_served AND driver_served), equal to
    the unseeded cluster kernel."""
    fd, fc = pair
    a = fd.search(Term("content", "def"), k=5)
    assert a.champion_served and a.driver_served and a.blocks_scored == 0
    b = fc.search(Term("content", "def"), k=5, use_champions=False)
    _same(a, b)


def test_batched_all_driver_and_mixed(pair, reader):
    fd, fc = pair
    specs = [
        {"node": SHAPES["term"], "k": 5},
        {"node": SHAPES["dismax"], "k": 4},
        {"node": SHAPES["phrase"], "k": 3},
        {"node": SHAPES["term"], "k": 5,
         "sort_feature": "num_lines"},
    ]
    ra, rb = fd.search_many(specs), fc.search_many(specs)
    assert all(x.driver_served for x in ra)
    assert not any(x.driver_served for x in rb)
    for x, y in zip(ra, rb):
        _same(x, y)
    # mixed: budget excludes the batch path per-query, not whole-batch
    tiny = FastTopK(reader, driver_max_postings=1)
    rt = tiny.search_many(specs)
    for x, y in zip(rt, rb):
        _same(x, y)


def test_zero_match_and_lean_concat_shapes(pair):
    """A query whose terms exist nowhere: driver tier must return an empty
    result identical to the cluster kernel (exercises _lean_concat([])).
    Also pin _lean_concat's assembly directly: core dicts only, and core
    dicts + agg partial frames (doc_id == -2 rows, extension dtypes)."""
    import numpy as np
    import pandas as pd

    from cantine_spark.execution.wand import _lean_concat

    fd, fc = pair
    ghost = Term("content", "zzznosuchtermzzz")
    a, b = fd.search(ghost, k=5), fc.search(ghost, k=5)
    assert a.hits == [] and a.total == 0
    _same(a, b)

    def core(shard, docs):
        n = len(docs)
        return {"shard": np.full(n, shard, np.int32),
                "doc_id": np.asarray(docs, np.int64),
                "score": np.ones(n), "sort_val": np.ones(n),
                "shard_total": np.full(n, n - 1, np.int64),
                "shard_visited": np.full(n, n - 1, np.int64),
                "blocks_total": np.full(n, 2, np.int64),
                "blocks_scored": np.full(n, 1, np.int64)}

    plain = _lean_concat([(core(0, [3, -1]), None), (core(1, [7, -1]), None)])
    assert len(plain) == 4 and "feat" not in plain.columns

    agg = pd.DataFrame({"feat": ["f"], "range_idx": [0],
                        "vmin": [1.0], "vmax": [2.0], "cnt": [5]})
    mixed = _lean_concat([(core(0, [3, -1]), agg), (core(1, [-1]), None)])
    arows = mixed[mixed["doc_id"] == -2]
    assert len(arows) == 1 and int(arows["cnt"].iloc[0]) == 5
    assert str(arows["range_idx"].dtype) == "Int32"
    assert len(mixed[mixed["doc_id"] == -1]) == 2  # per-shard count rows


def test_agg_with_zero_matches_stays_on_driver(pair):
    """ADVICE r6 (medium): a lean driver-tier frame with agg_query but ZERO
    agg partials (filter excludes every doc) used to KeyError in
    _merge_kernel_frame and silently fall back to the cluster. It must be
    driver-served with all-empty agg buckets, equal to the cluster path."""
    fd, fc = pair
    kw = dict(k=5, filters={"num_lines": (1e9, 2e9)},  # matches nothing
              agg_query={"content_bytes": [(0.0, 2000.0), (2000.0, 1e12)]})
    before = driverexec.DRIVER_TIER_FALLBACKS
    a = fd.search(SHAPES["term"], **kw)
    assert driverexec.DRIVER_TIER_FALLBACKS == before, \
        "driver tier silently fell back (lean zero-agg regression)"
    assert a.driver_served and a.hits == []
    assert a.agg == {"content_bytes": [(0, None, None), (0, None, None)]}
    _same(a, fc.search(SHAPES["term"], **kw), agg=True)


def test_generation_key_invalidates_nonposix_rebuild(spark, tmp_path,
                                                     monkeypatch):
    """VERDICT r6 #1: on a non-posix store (file:// URI — os.stat fails on
    it) an in-place rebuild must not serve stale driver-tier caches even
    when the writer never calls invalidate_caches (separate-process
    writer). The cache key carries the manifest generation."""
    from cantine_spark.build.builder import build_index
    from cantine_spark.corpus import generate_corpus, with_doc_ids

    d = str(tmp_path / "idx")
    build_index(spark, with_doc_ids(generate_corpus(spark, 60,
                                                    partitions=2)), d)
    uri = "file://" + d
    fd = FastTopK(IndexReader(spark, uri))
    a = fd.search(SHAPES["term"], k=5)
    assert a.driver_served and a.total > 0
    # rebuild in place with a DIFFERENT corpus, writer never invalidates
    # (monkeypatch simulates the separate-process writer; both segment and
    # champion writers resolve invalidate_caches through this module attr)
    monkeypatch.setattr(driverexec, "invalidate_caches", lambda: None)
    import shutil
    shutil.rmtree(d)
    build_index(spark, with_doc_ids(generate_corpus(spark, 90,
                                                    partitions=2)), d)
    fd2 = FastTopK(IndexReader(spark, uri))
    b = fd2.search(SHAPES["term"], k=5)
    assert b.driver_served
    ref = FastTopK(IndexReader(spark, uri), use_driver=False).search(
        SHAPES["term"], k=5)
    _same(b, ref)
    assert b.total != a.total  # really the new index, not the stale cache


def test_row_cache_invalidation_on_reencode(spark, tmp_path):
    """An in-place re-encode must not serve stale driver-tier caches."""
    from cantine_spark.build.builder import build_index
    from cantine_spark.build.segments import build_segments
    from cantine_spark.corpus import generate_corpus, with_doc_ids

    d = str(tmp_path / "idx")
    build_index(spark, with_doc_ids(generate_corpus(spark, 60,
                                                    partitions=2)), d)
    fd = FastTopK(IndexReader(spark, d))
    a = fd.search(SHAPES["term"], k=5)
    assert a.driver_served
    # re-encode with a different span → different shard geometry
    build_segments(spark, d, shard_span=17)
    fd2 = FastTopK(IndexReader(spark, d))
    b = fd2.search(SHAPES["term"], k=5)
    assert b.driver_served
    ref = FastTopK(IndexReader(spark, d), use_driver=False).search(
        SHAPES["term"], k=5)
    _same(b, ref)


def test_read_rows_prunes_and_caches(reader):
    """Point reads return only the asked terms' rows, and repeat reads hit
    the row cache (same object back)."""
    spec = reader.segment_point_spec()
    rows = driverexec.read_rows(spec, {("content", "def")},
                                driverexec.SEG_COLUMNS)
    assert len(rows) and set(rows["term"]) == {"def"}
    assert set(rows["field"]) == {"content"}
    again = driverexec.read_rows(spec, {("content", "def")},
                                 driverexec.SEG_COLUMNS)
    assert again is rows


def test_read_rows_shard_restriction(reader):
    """read_rows(..., shards=S) equals the unrestricted read limited to S,
    and the row cache never answers one shard set with another's rows."""
    import pandas as pd

    spec = reader.segment_point_spec()
    terms = {("content", "def"), ("path", "def")}
    ids = driverexec.shard_ids(spec)
    assert len(ids) >= 3  # the shared fixture's span gives several shards
    full = driverexec.read_rows(spec, terms, driverexec.SEG_COLUMNS)
    assert sorted(set(full["shard"])) == ids

    def canon(df):
        return (df.sort_values(["shard", "field", "term", "first_doc"])
                .reset_index(drop=True))

    for sel in ({ids[0]}, set(ids[1::2]), set(ids)):
        part = driverexec.read_rows(spec, terms, driverexec.SEG_COLUMNS,
                                    shards=sel)
        assert set(part["shard"]) == sel
        want = full[full["shard"].isin(sel)]
        pd.testing.assert_frame_equal(canon(part), canon(want))
    one = driverexec.read_rows(spec, terms, driverexec.SEG_COLUMNS,
                               shards={ids[0]})
    other = driverexec.read_rows(spec, terms, driverexec.SEG_COLUMNS,
                                 shards={ids[1]})
    assert other is not one and set(other["shard"]) == {ids[1]}
    assert driverexec.read_rows(spec, terms, driverexec.SEG_COLUMNS,
                                shards={ids[0]}) is one
