"""Query shapes the segment kernel answers from the fast-field sidecar:
match-all and filter-only queries (alone, field-sorted, aggregating, page
2), pure-negative trees, docs with no tokens at all, and negative boosts —
on a plain reader and on a two-tier TieredIndexReader, each checked against
the oracle + pandas reference (tests/reference.py)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from cantine_spark.api import SearchEngine
from cantine_spark.build.builder import TEXT_FIELDS, build_index
from cantine_spark.build.segments import build_segments
from cantine_spark.corpus import generate_corpus, with_doc_ids
from cantine_spark.index import IndexReader, SchemaMismatch
from cantine_spark.oracle import OracleIndex
from cantine_spark.plans.nodes import All, Boolean, Boost, Term
from cantine_spark.tiered import TieredIndexReader

from reference import (
    Reference, assert_hits_match, assert_result_matches, walk_pages,
)

N_TEXT, N_EMPTY, SPAN = 80, 10, 40


@pytest.fixture(scope="module")
def corpus(spark):
    """80 generated files plus 10 files with no token in content or path;
    they sort last, so shard 2 (docs 80-89) holds no segment rows."""
    gen = generate_corpus(spark, N_TEXT, partitions=2)
    empty = spark.createDataFrame(
        [("~zero", "_" * (i + 1), "c0", "txt", "!!! ???")
         for i in range(N_EMPTY)], gen.schema)
    return with_doc_ids(gen.unionByName(empty)).persist()


def _build(spark, corpus, d, lo, hi):
    build_index(spark, corpus.filter((F.col("doc_id") >= lo)
                                     & (F.col("doc_id") < hi)), d)
    build_segments(spark, d, shard_span=SPAN)
    return d


@pytest.fixture(scope="module")
def dirs(spark, corpus, tmp_path_factory):
    root = tmp_path_factory.mktemp("kernel_all")
    n = N_TEXT + N_EMPTY
    return {"plain": _build(spark, corpus, str(root / "plain"), 0, n),
            "tier0": _build(spark, corpus, str(root / "tier0"), 0, 50),
            "tier1": _build(spark, corpus, str(root / "tier1"), 50, n)}


@pytest.fixture(scope="module")
def empty_ids(corpus):
    ids = sorted(r["doc_id"] for r in corpus.filter(F.col("repo") == "~zero")
                 .select("doc_id").collect())
    assert ids == list(range(N_TEXT, N_TEXT + N_EMPTY))
    return ids


@pytest.fixture(scope="module")
def oracle(corpus):
    pdf = (corpus.select("doc_id", *TEXT_FIELDS).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    return OracleIndex.build(pdf, list(TEXT_FIELDS))


@pytest.fixture(scope="module", params=[
    ("plain", True), ("plain", False), ("tiered", True), ("tiered", False)],
    ids=["plain-driver", "plain-cluster", "tiered-driver", "tiered-cluster"])
def env(request, spark, dirs, oracle, empty_ids):
    """(engine, reference); use_driver=False runs every query as a
    shard-task Spark job instead of on the driver tier."""
    layout, use_driver = request.param
    if layout == "plain":
        reader = IndexReader(spark, dirs["plain"])
    else:
        reader = TieredIndexReader(spark, [dirs["tier0"], dirs["tier1"]])
    return (SearchEngine(reader, use_driver=use_driver),
            Reference.of(reader, oracle))


def test_segments_hold_no_row_of_the_empty_shard(spark, dirs, empty_ids):
    seg = spark.read.parquet(os.path.join(dirs["plain"], "segments"))
    assert seg.filter(F.col("shard") == 2).count() == 0
    ff = spark.read.parquet(os.path.join(dirs["plain"], "fastfields"))
    assert ff.filter(F.col("shard") == 2).count() == N_EMPTY


def test_match_all_returns_zero_token_docs(env, empty_ids):
    eng, ref = env
    q = {"num_items": 7}
    res = eng.search(dict(q))
    assert res.total_found == N_TEXT + N_EMPTY
    assert_result_matches(res, ref.query(eng, q))
    assert walk_pages(eng, ref, {"num_items": 40}) == N_TEXT + N_EMPTY
    # the docs of the row-less shard page in like any other
    last = eng.search({"num_items": 40, "sort": "num_lines",
                       "ascending": True})
    assert set(empty_ids) <= {i["doc_id"] for i in last.items}


FILTER_ONLY = [
    {"filter": {"num_lines": [1, 30]}},
    {"filter": {"num_lines": [1, 30]}, "sort": "content_bytes",
     "num_items": 6},
    {"filter": {"content_bytes": [0, 4000]}, "sort": "num_functions",
     "ascending": True, "num_items": 9},
    {"filter": {"num_lines": [0, 10**6]},
     "agg": {"num_lines": [[0, 20], [20, 10**6]],
             "num_functions": [[0, 100]], "avg_line_len": [[50.0, 60.0]]},
     "num_items": 5},
    {"filter": {"num_lines": [10**6, 10**7]},
     "agg": {"num_lines": [[0, 10]]}},                  # matches nothing
]


@pytest.mark.parametrize("q", FILTER_ONLY)
def test_filter_only(env, q):
    eng, ref = env
    assert_result_matches(eng.search(dict(q)), ref.query(eng, q))


@pytest.mark.parametrize("q", FILTER_ONLY[:3])
def test_filter_only_pages(env, q):
    eng, ref = env
    walk_pages(eng, ref, dict(q, num_items=4))


PURE_NEGATIVE = [
    {"fulltext": "-def", "num_items": 8},
    {"fulltext": "-def -return", "sort": "num_lines"},
    {"fulltext": "-def", "filter": {"num_lines": [2, 40]},
     "agg": {"num_lines": [[0, 10], [10, 40]]}},
    {"fulltext": "-zzznotaterm", "num_items": 3},
]


@pytest.mark.parametrize("q", PURE_NEGATIVE)
def test_pure_negative(env, q, empty_ids):
    eng, ref = env
    assert_result_matches(eng.search(dict(q)), ref.query(eng, q))
    walk_pages(eng, ref, dict(q, num_items=25))


def test_pure_negative_tree(env):
    eng, ref = env
    node = Boolean(musts=(All(),), must_nots=(Term("content", "def"),))
    assert_hits_match(eng.search_node(node, k=15),
                      ref.oracle.search(node, 15))


NEGATIVE_BOOST = [
    Boost(Term("content", "def"), -1.0),
    Boolean(shoulds=(Boost(Term("content", "def"), -0.5),
                     Term("content", "return"))),
    Boolean(musts=(Term("content", "return"),),
            shoulds=(Boost(Term("path", "py"), -2.0),)),
]


@pytest.mark.parametrize("node", NEGATIVE_BOOST, ids=range(3))
@pytest.mark.parametrize("ascending", [False, True])
def test_negative_boost_exact(env, node, ascending):
    eng, ref = env
    assert_hits_match(eng.search_node(node, k=12, ascending=ascending),
                      ref.oracle.search(node, 12, ascending=ascending))


def test_index_without_segments_fails_to_open(spark, dirs, tmp_path):
    d = str(tmp_path / "noseg")
    shutil.copytree(dirs["plain"], d)
    shutil.rmtree(os.path.join(d, "segments"))
    with pytest.raises(SchemaMismatch, match="rebuild"):
        IndexReader(spark, d)
    with pytest.raises(SchemaMismatch, match="rebuild"):
        TieredIndexReader(spark, [dirs["tier0"], d])
