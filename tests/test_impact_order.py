"""Impact-ordered doc-id layout (VERDICT r4 'What's missing' #3).

with_doc_ids(order="impact") permutes doc ids at build time: docs ranked
by static max-term impact descending, then STRIPED so every doc-range
shard sees the full impact distribution (see corpus.with_doc_ids). These
tests pin that the permutation is (a) well-formed — dense ids,
deterministic, impact-descending within each stripe (at N=200 < stripe
width there is exactly one stripe, so globally); (b) LOSSLESS — block-max
pruned results equal unpruned results and the oracle's results on the
SAME corpus (the per-layout equality that makes pruning safe); and
(c) layout-independent — the score multiset matches the ingest-ordered
layout (the pruning-effectiveness story lives in docs/impact_layout.md
and tests/test_champions.py; see test_impact_layout_results_match_ingest).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cantine_spark.api import SearchEngine
from cantine_spark.build.builder import TEXT_FIELDS, build_index
from cantine_spark.build.segments import build_segments
from cantine_spark.corpus import generate_corpus, with_doc_ids
from cantine_spark.execution.wand import FastTopK
from cantine_spark.index import IndexReader
from cantine_spark.oracle import OracleIndex
from cantine_spark.plans.nodes import Boolean, Term

from reference import assert_hits_match

N = 200


@pytest.fixture(scope="module")
def impact_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("impact"))
    corpus = with_doc_ids(generate_corpus(spark, N, partitions=4),
                          order="impact")
    build_index(spark, corpus, d)
    build_segments(spark, d, shard_span=40)  # several shards at 200 docs
    return d


@pytest.fixture(scope="module")
def impact_reader(spark, impact_dir):
    return IndexReader(spark, impact_dir)


@pytest.fixture(scope="module")
def impact_fast(impact_reader):
    return FastTopK(impact_reader)


@pytest.fixture(scope="module")
def impact_oracle(impact_reader):
    pdf = (impact_reader.docs.select("doc_id", *TEXT_FIELDS).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    return OracleIndex.build(pdf, list(TEXT_FIELDS))


def test_layout_well_formed(spark, impact_reader):
    from collections import Counter

    from cantine_spark.analysis import tokenize_text
    from cantine_spark.execution.scoring import B, K1

    rows = (impact_reader.docs
            .select("doc_id", "content", "repo", "path")
            .orderBy("doc_id").collect())
    ids = [r["doc_id"] for r in rows]
    assert ids == list(range(N))  # dense, complete
    # the prior: tfnorm of each doc's most frequent term must be
    # non-increasing along the doc_id space
    stats = []
    for r in rows:
        toks = tokenize_text(r["content"])
        stats.append((max(Counter(toks).values()) if toks else 0, len(toks)))
    avgdl = sum(dl for _, dl in stats) / len(stats)
    imp = [tf * (K1 + 1) / (tf + K1 * (1 - B + B * dl / avgdl))
           for tf, dl in stats]
    assert all(a >= b - 1e-12 for a, b in zip(imp, imp[1:]))
    assert imp[0] > imp[-1]  # the ordering actually spreads
    # deterministic: re-running the permutation gives identical assignment
    again = (with_doc_ids(generate_corpus(spark, N, partitions=3),
                          order="impact")
             .select("doc_id", "repo", "path").collect())
    assert {(r["repo"], r["path"]): r["doc_id"] for r in again} == \
           {(r["repo"], r["path"]): r["doc_id"] for r in rows}


def test_unknown_order_rejected(spark):
    with pytest.raises(ValueError, match="unknown doc-id order"):
        with_doc_ids(generate_corpus(spark, 10), order="pagerank")


@pytest.mark.parametrize("terms,mode", [
    (["def"], "or"),                 # hot term — the shape this layout serves
    (["def", "return", "import"], "or"),
    (["def", "import"], "and"),
    (["uniqterm00000123"], "or"),    # guaranteed one-doc rare term
])
def test_pruned_equals_unpruned_and_relational(impact_fast, impact_oracle,
                                               terms, mode):
    ts = tuple(Term("content", t) for t in terms)
    node = Boolean(musts=ts) if mode == "and" else Boolean(shoulds=ts)
    pruned = impact_fast.search(node, k=10, seed_min=8)
    full = impact_fast.search(node, k=10, seed_min=10_000)
    assert pruned.total == full.total
    np.testing.assert_allclose([s for _, s in pruned.hits],
                               [s for _, s in full.hits],
                               rtol=1e-6, atol=1e-9)
    assert [d for d, _ in pruned.hits] == [d for d, _ in full.hits]
    # cross-check: the oracle over the same permuted corpus
    assert_hits_match(pruned, impact_oracle.search(node, 10))


def test_pagination_on_impact_layout(spark, impact_dir):
    eng = SearchEngine(IndexReader(spark, impact_dir))
    q = {"fulltext": "def return", "num_items": 9}
    seen, after, pages = [], None, 0
    total = None
    while pages < 40:
        d = dict(q)
        if after:
            d["after"] = after
        r = eng.search(d)
        total = r.total_found
        seen.extend(i["doc_id"] for i in r.items)
        pages += 1
        if not r.next:
            break
        after = r.next
    assert len(seen) == len(set(seen)) == total  # exhaustive, no dup/skip


STRIPED_N = 4096  # > IMPACT_STRIPE so striping actually engages: 4
# stripes of 1024, shard_span=1024 → each shard holds one full
# high-to-low impact run whose tail blocks fall under the shard's θ


@pytest.fixture(scope="module")
def striped_pair(spark, tmp_path_factory):
    """(impact_dir, ingest_dir) over the SAME 4096-doc corpus."""
    dirs = {}
    for order in ("impact", "identity"):
        d = str(tmp_path_factory.mktemp(f"striped_{order}"))
        corpus = with_doc_ids(generate_corpus(spark, STRIPED_N, partitions=8),
                              order=order)
        build_index(spark, corpus, d)
        build_segments(spark, d, shard_span=1024)
        dirs[order] = d
    return dirs


def test_impact_layout_results_match_ingest(spark, striped_pair):
    """Same corpus, same query, same k: the two layouts permute doc ids
    but must agree on the score multiset (f32 ranking).

    Measured outcome (docs/impact_layout.md): the striped impact layout
    does NOT reduce hot-term blocks scored — per-doc max-term tfnorm
    saturates (p5-p100 within [1.85, 2.12] on the synthetic corpus) and
    correlates ~0.08 with any specific hot term's tfnorm, so no static doc
    permutation can make 128-doc block maxima heterogeneous when ~95% of
    docs match. The shipped mechanism for hot-term pruning is the per-term
    champion sidecar (tests/test_champions.py); this layout stays as an
    opt-in experiment with pinned losslessness."""
    hits = {}
    for name, d in striped_pair.items():
        eng = SearchEngine(IndexReader(spark, d))
        r = eng.search({"fulltext": "def", "num_items": 5})
        hits[name] = sorted(round(i["score"], 4) for i in r.items)
    assert hits["impact"] == hits["identity"]


def test_striped_equality_at_scale(spark, striped_pair):
    """On the striped (multi-stripe) index, pruned == unpruned == the
    ingest-ordered index's scores for hot and mixed shapes."""
    fast = FastTopK(IndexReader(spark, striped_pair["impact"]))
    for terms, mode in ((("def",), "or"),
                       (("def", "return", "import"), "or"),
                       (("def", "import"), "and")):
        ts = tuple(Term("content", t) for t in terms)
        node = Boolean(musts=ts) if mode == "and" else Boolean(shoulds=ts)
        pruned = fast.search(node, k=10, seed_min=8)
        full = fast.search(node, k=10, seed_min=10_000_000)
        assert pruned.total == full.total
        assert [d for d, _ in pruned.hits] == [d for d, _ in full.hits]
        np.testing.assert_allclose([s for _, s in pruned.hits],
                                   [s for _, s in full.hits],
                                   rtol=1e-6, atol=1e-9)
