"""End-to-end: engine (the segment kernel, through SearchEngine.search_node)
vs oracle (pure pandas), the correctness gate of SURVEY §5 — rank-identical
doc_ids with matching f32 scores across the whole query-shape zoo, match-all
and pure-negative trees included."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cantine_spark.api import SearchEngine
from cantine_spark.plans.nodes import All, Boolean, Boost, DisMax, Phrase, Term
from cantine_spark.queryparser.parser import QueryParser

K = 10


@pytest.fixture(scope="module")
def engine(reader):
    return SearchEngine(reader)


def engine_topk(engine, node, k=K):
    r = engine.search_node(node, k=k)
    return r.total, r.hits


def assert_equivalent(engine, oracle_res):
    """Rank-identical up to permutations inside exact-tie groups; scores
    match at f32 resolution (both sides emit float32)."""
    (etotal, eitems), (ototal, oitems) = engine, oracle_res
    assert etotal == ototal, f"total mismatch {etotal} != {ototal}"
    assert len(eitems) == len(oitems)
    escores = np.array([s for _, s in eitems], dtype=np.float64)
    oscores = np.array([s for _, s in oitems], dtype=np.float64)
    np.testing.assert_allclose(escores, oscores, rtol=1e-6, atol=1e-9)
    # group ties by oracle score, compare doc_id sets per group
    i = 0
    while i < len(oitems):
        j = i
        while j < len(oitems) and np.isclose(
                oitems[j][1], oitems[i][1], rtol=1e-7, atol=1e-9):
            j += 1
        assert {d for d, _ in eitems[i:j]} == {d for d, _ in oitems[i:j]}, \
            f"tie-group mismatch at ranks {i}:{j}: {eitems[i:j]} vs {oitems[i:j]}"
        i = j
    # within equal engine scores, doc_id must ascend (tique topk.rs:191-203)
    for (d1, s1), (d2, s2) in zip(eitems, eitems[1:]):
        if s1 == s2:
            assert d1 < d2, "tie-break must be ascending doc_id"


NODES = [
    Term("content", "def"),                      # hot/skewed term
    Term("content", "parse00001"),               # zipf-tail identifier
    Term("content", "uniqterm00000007"),         # one-doc term
    Term("content", "zzz404notfound"),           # zero hits
    Term("path", "src"),                         # second field
    Boolean(shoulds=(Term("content", "def"), Term("content", "return"))),
    Boolean(musts=(Term("content", "def"), Term("content", "merge00000"))),
    Boolean(musts=(Term("content", "def"),),
            must_nots=(Term("content", "import"),)),
    Boolean(musts=(All(),), must_nots=(Term("content", "def"),)),  # pure-neg
    Boolean(musts=(Term("content", "def"),),
            shoulds=(Term("content", "scan00003"),)),
    DisMax((Term("content", "def"), Term("path", "src")), 0.1),
    Boost(Term("content", "def"), 1.15),
    Phrase("content", ("permission", "is", "hereby", "granted")),
    Phrase("content", ("is", "provided")),
    Boolean(shoulds=(Phrase("content", ("free", "of", "charge")),
                     Term("content", "warranty"))),
]


@pytest.mark.parametrize("node", NODES, ids=lambda n: repr(n)[:60])
def test_engine_matches_oracle(engine, oracle, node):
    assert_equivalent(engine_topk(engine, node),
                      oracle.search(node, K))


PARSED_QUERIES = [
    "def",
    "def return",
    "+def -import",
    '-def',                       # pure negative
    '"permission is hereby granted"',
    "path:src def",
    "unknownfield:def",           # unknown field stays in term text
    "+def +merge00000",
    "def AND",                    # 'and' is just a term here
    "!!! ---",                    # garbage → may be empty query
    "uniqterm00000007",
]


@pytest.mark.parametrize("q", PARSED_QUERIES)
def test_parsed_query_matches_oracle(engine, oracle, q):
    parser = QueryParser(["content", "path"],
                         boosts={"path": 1.15, "content": 0.7})
    node = parser.parse_dismax(q, 0.1)
    if node is None:
        return
    assert_equivalent(engine_topk(engine, node), oracle.search(node, K))


def test_total_counts_match_all_query(engine, oracle, reader):
    r = engine.search_node(All())
    assert r.total == reader.num_docs == oracle.n_docs


def test_sha256_invariant(reader, spark):
    """Per-row invariant (BASELINE input_hint): stored sha256 equals a fresh
    recomputation over the stored content."""
    bad = (reader.docs
           .filter(F.sha2("content", 256) != F.col("content_sha256")).count())
    assert bad == 0
