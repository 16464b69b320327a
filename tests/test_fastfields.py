"""Fast-field sidecar (r4): shard-local feature values for field sorts and
fused aggregations.

The sidecar is the analog of tantivy's per-segment FAST columns
(cantine/src/index.rs:193,199-200, read per segment at
tique/src/conditional_collector/top_collector.rs:150-153): feature values
live NEXT TO the shard's postings, so a field-sorted or aggregating query
never moves docmeta through a shuffle. These tests pin:

- the layout invariants (one row per doc, shard = doc_id // span, sorted);
- the PLAN shape: filtered / field-sorted / aggregating fulltext is one
  shard-task kernel job (no shuffle, no Spark-side table scan at all);
- kernel answers ≡ the oracle + pandas reference (tests/reference.py), and
  the agg_threshold gate still selects the two-pass form;
- a stale sidecar (span mismatch after re-encode) or an absent one is
  rewritten when the index opens, and the engine then answers like a
  fresh one; the kernel refuses features the sidecar does not hold.
"""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from cantine_spark.api import SearchEngine
from cantine_spark.build.segments import (
    load_fastfields_meta, load_segments_meta,
)
from cantine_spark.execution.wand import FastTopK
from cantine_spark.plans.nodes import Term


def as_partials(agg) -> dict:
    """SearchResult.agg RangeStats → the kernel's (count, min, max)."""
    return {f: [(s.count, float(s.min), float(s.max)) if s.count
                else (0, None, None) for s in stats]
            for f, stats in agg.items()}


# ---------------------------------------------------------------- layout


def test_sidecar_layout_invariants(spark, reader, index_dir):
    ffm = load_fastfields_meta(index_dir)
    assert ffm is not None
    span = load_segments_meta(index_dir)["shard_span"]
    assert ffm["shard_span"] == span
    ff = spark.read.parquet(os.path.join(index_dir, "fastfields"))
    n_docs = reader.num_docs
    assert ff.count() == n_docs  # exactly one row per doc
    # shard partition values agree with the segment shard math
    bad = ff.filter(
        F.col("shard") != (F.col("doc_id") / F.lit(span)).cast("int")).count()
    assert bad == 0
    # every numeric feature is present
    for c in ("num_lines", "content_bytes", "avg_line_len", "num_functions"):
        assert c in ffm["columns"]


# ------------------------------------------------------------ plan shape


def assert_shard_task_plan(fast) -> None:
    """The shard-task kernel job (fast.last_job): one plain RDD job over
    the shard ids — no shuffle, no table scan and at most one partition
    per shard. Each task point-reads its own shards' rows, so nothing but
    shard ids enters the job."""
    lineage = fast.last_job.toDebugString().decode()
    assert "ShuffledRDD" not in lineage
    assert "FileScanRDD" not in lineage
    assert "ParallelCollectionRDD" in lineage
    assert fast.last_job.getNumPartitions() <= len(fast._shards)


def test_unfiltered_field_sort_is_plain_groupby(reader):
    """The r3 scale-killer: an UNFILTERED field-sorted fulltext query used
    to cogroup the segments with a projection of the ENTIRE docmeta
    (O(n_docs) through a shuffle per query). With the sidecar the job is
    the shard-task kernel: no shuffle and no scan of any table in the
    plan — each task reads its shards' term rows and sidecar values,
    O(matches-per-shard) rows, period."""
    # use_driver=False: this test asserts the CLUSTER plan shape (the
    # driver tier would answer without any Spark job; its equality is
    # pinned in test_driverexec.py)
    fast = FastTopK(reader, use_driver=False)
    res = fast.search(Term("content", "def"), k=5,
                      sort_feature="num_lines")
    assert res.hits  # sanity: the query matched
    assert_shard_task_plan(fast)


def test_filtered_query_runs_in_kernel_no_cogroup(reader, reference):
    """r4: range filters evaluate IN-KERNEL against the shard-local sidecar
    (the reference composes RangeQuery into the per-segment query,
    main.rs:152-172) — a filtered, sorted, aggregating fulltext query is
    ONE single-input groupBy kernel job with no docmeta scan at all."""
    fast = FastTopK(reader, use_driver=False)
    res = fast.search(Term("content", "def"), k=5,
                      filters={"num_lines": (3, 50)},
                      sort_feature="content_bytes",
                      agg_query={"num_lines": [(0, 30), (30, 10**6)]})
    assert res.hits and res.agg is not None
    assert_shard_task_plan(fast)
    # identical to the oracle + pandas reference
    ref = reference.search(Term("content", "def"), {"num_lines": (3, 50)},
                           k=5, sort="content_bytes",
                           agg={"num_lines": [(0, 30), (30, 10**6)]})
    assert res.total == ref["total"]
    assert ([(d, s, float(v)) for (d, s), v in zip(res.hits, res.sort_vals)]
            == [(d, s, float(v)) for d, s, v in ref["items"]])
    assert res.agg == as_partials(ref["agg"])
    # agg buckets partition the filtered match set exactly
    assert sum(c for c, _, _ in res.agg["num_lines"]) == res.total


# -------------------------------------------------------------- fused agg


AGG = {"num_lines": [(0, 20), (20, 40), (40, 10**6)],
       "avg_line_len": [(0.0, 25.0)]}


def test_fused_agg_equals_two_pass(reader, reference):
    """Differential: the fused kernel agg (k=3) vs the gated second pass
    (k=1, hits discarded) vs the oracle + pandas reference — identical
    partial merges, filtered and unfiltered."""
    fast = FastTopK(reader)
    node = Term("content", "def")
    for filt in (None, {"content_bytes": (0, 5000)}):
        fused = fast.search(node, k=3, filters=filt, agg_query=AGG)
        assert fused.agg is not None
        assert fused.agg == fast.search(node, k=1, filters=filt,
                                        agg_query=AGG).agg
        ref = reference.search(node, filt, agg=AGG)
        assert fused.total == ref["total"]
        assert fused.agg == as_partials(ref["agg"])


def test_fused_engine_agg_matches_gated_engine(reader):
    """agg_threshold None → fused single job; a huge finite threshold →
    reference two-pass shape. Same query, identical SearchResult.agg."""
    q = {"fulltext": "def", "num_items": 4,
         "agg": {"num_lines": [[0, 20], [20, 40], [40, 10**6]],
                 "num_functions": [[0, 100]]}}
    fused_eng = SearchEngine(reader)                       # threshold None
    gated_eng = SearchEngine(reader, agg_threshold=10**9)  # always passes
    a, b = fused_eng.search(dict(q)), gated_eng.search(dict(q))
    assert a.agg is not None and a.agg == b.agg
    assert a.total_found == b.total_found
    assert [i["doc_id"] for i in a.items] == [i["doc_id"] for i in b.items]
    # the gate itself: threshold 0 < total → no aggregation is computed
    closed = SearchEngine(reader, agg_threshold=0).search(dict(q))
    assert closed.agg is None and closed.total_found == a.total_found


def test_fused_agg_empty_bucket_and_no_match(reader):
    fast = FastTopK(reader)
    empty_bucket = fast.search(Term("content", "def"), k=2,
                               agg_query={"num_lines": [(10**6, 10**7)]})
    assert empty_bucket.agg == {"num_lines": [(0, None, None)]}
    no_match = fast.search(Term("content", "zzznope"), k=2,
                           agg_query={"num_lines": [(0, 10)]})
    assert no_match.total == 0
    assert no_match.agg == {"num_lines": [(0, None, None)]}


# ---------------------------------------------------------- stale sidecar


@pytest.fixture(scope="module")
def stale_sidecar_dirs(index_dir, tmp_path_factory):
    """Two copies of the index: one whose sidecar claims the WRONG shard
    span — exactly what a re-encode that skipped write_fastfields would
    leave — and one with no sidecar at all."""
    root = tmp_path_factory.mktemp("stale_ff")
    stale, absent = str(root / "stale"), str(root / "absent")
    shutil.copytree(index_dir, stale)
    meta_p = os.path.join(stale, "fastfields", "_FF_META.json")
    with open(meta_p) as f:
        m = json.load(f)
    m["shard_span"] = m["shard_span"] * 2 + 1
    with open(meta_p, "w") as f:
        json.dump(m, f)
    shutil.copytree(index_dir, absent)
    shutil.rmtree(os.path.join(absent, "fastfields"))
    return stale, absent


STALE_QUERIES = [
    {"fulltext": "def", "filter": {"num_lines": [3, 50]},
     "sort": "content_bytes", "num_items": 6},
    {"fulltext": "def", "sort": "num_lines", "num_items": 6},
    {"fulltext": "def return", "sort": "avg_line_len", "ascending": True,
     "agg": {"num_lines": [[0, 20], [20, 10**6]]}, "num_items": 5},
    {"filter": {"num_lines": [3, 50]}, "sort": "content_bytes",
     "num_items": 6},
]


def test_stale_sidecar_is_rewritten_on_open(spark, reader,
                                            stale_sidecar_dirs):
    """Opening an index whose sidecar is stale or absent rewrites it at the
    segments' span, so every filtered, sorted, aggregating or match-all
    query runs on the kernel and answers (pages 1 and 2) exactly like the
    fresh engine; the kernel still refuses a feature it does not hold."""
    from cantine_spark.index import IndexReader
    fresh = SearchEngine(reader)

    def pages(eng, q):
        p1 = eng.search(dict(q))
        assert p1.next is not None
        return p1, eng.search(dict(q, after=p1.next))

    expected = [pages(fresh, q) for q in STALE_QUERIES]
    for d in stale_sidecar_dirs:
        eng = SearchEngine(IndexReader(spark, d))
        ffm = load_fastfields_meta(d)
        assert ffm["shard_span"] == load_segments_meta(d)["shard_span"]
        assert set(ffm["columns"]) == set(
            load_fastfields_meta(reader.index_dir)["columns"])
        for exp, res in zip(expected, [pages(eng, q) for q in STALE_QUERIES]):
            for b, a in zip(exp, res):
                assert a.total_found == b.total_found
                assert ([(i["doc_id"], i["score"], i["sort_val"])
                         for i in a.items]
                        == [(i["doc_id"], i["score"], i["sort_val"])
                            for i in b.items])
                assert a.agg == b.agg
    with pytest.raises(ValueError, match="sidecar holds no feature"):
        eng._fast.search(Term("content", "def"), sort_feature="nope")
    # an empty filter set names no feature
    assert eng._fast.search(Term("content", "def"), k=3,
                            filters={}).total > 0


# --------------------------------------------------- pruning observability


def test_search_result_carries_pruning_stats(reader):
    res = SearchEngine(reader).search({"fulltext": "def", "num_items": 5})
    assert res.stats is not None
    assert res.stats["blocks_total"] >= res.stats["blocks_scored"] >= 0
    assert res.stats["visited"] == res.total_found
