"""Segment merge + build resumability.

- split-build-merge == single-shot build (posting-level equivalence);
- merged segments still answer queries identically;
- interrupted builds resume: completed stages are skipped, missing stages
  re-run, outputs identical (SURVEY §7.4 risk 6)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from cantine_spark.build.builder import IndexBuilder, build_index
from cantine_spark.build.merge import merge_segments, segments_to_postings
from cantine_spark.build.segments import build_segments
from cantine_spark.corpus import generate_corpus, with_doc_ids
from cantine_spark.index import IndexReader

N = 120
SPAN = 40


@pytest.fixture(scope="module")
def split_env(spark, tmp_path_factory):
    """Full build vs two half-builds (doc_ids 0..59 / 60..119) + merge."""
    root = tmp_path_factory.mktemp("merge")
    full_dir = str(root / "full")
    corpus = with_doc_ids(generate_corpus(spark, N, partitions=4)).persist()
    build_index(spark, corpus, full_dir)
    build_segments(spark, full_dir, shard_span=SPAN)

    halves = []
    for i, cond in enumerate([F.col("doc_id") < N // 2,
                              F.col("doc_id") >= N // 2]):
        d = str(root / f"half{i}")
        build_index(spark, corpus.filter(cond), d)
        build_segments(spark, d, shard_span=SPAN)
        halves.append(d)
    corpus.unpersist()
    return full_dir, halves, str(root / "merged_segments")


def test_merge_equals_single_shot(spark, split_env):
    full_dir, halves, out = split_env
    # avgdl of the merged corpus == the full build's avgdl
    full_reader = IndexReader(spark, full_dir)
    avgdl = {f: s["avgdl"] for f, s in full_reader.stats.items()}
    merge_segments(spark, [os.path.join(h, "segments") for h in halves],
                   out, avgdl, SPAN)

    merged = segments_to_postings(spark, out)
    single = segments_to_postings(spark, os.path.join(full_dir, "segments"))
    key = ["field", "term", "doc_id"]
    diff = (merged.withColumnRenamed("tf", "tf_m").withColumnRenamed("dl", "dl_m")
            .join(single, key, "full")
            .filter(F.col("tf_m").isNull() | F.col("tf").isNull()
                    | (F.col("tf_m") != F.col("tf"))
                    | (F.col("dl_m") != F.col("dl"))))
    assert diff.count() == 0
    assert merged.count() == single.count()


def test_merge_rejects_duplicate_doc_ids(spark, split_env):
    full_dir, halves, _ = split_env
    avgdl = {f: s["avgdl"]
             for f, s in IndexReader(spark, full_dir).stats.items()}
    with pytest.raises(Exception, match="duplicate doc_id"):
        merge_segments(spark,
                       [os.path.join(halves[0], "segments"),
                        os.path.join(halves[0], "segments")],
                       "/tmp/merge_dup_out", avgdl, SPAN)


def test_build_resume_skips_completed_stages(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("resume"))
    corpus = with_doc_ids(generate_corpus(spark, 60, partitions=2)).persist()
    b1 = IndexBuilder(spark, d)
    b1.build(corpus)
    assert set(b1.stages_run) >= {"docs", "docmeta", "segments"}
    assert not os.path.exists(os.path.join(d, "postings"))

    # rerun: everything skipped (fingerprints match)
    b2 = IndexBuilder(spark, d)
    b2.build(corpus)
    assert b2.stages_run == []
    assert set(b2.stages_skipped) >= {"docs", "docmeta", "segments",
                                      "index_stats"}

    # simulate a crash mid-build: segments stage marker lost → only that
    # stage re-runs; output identical
    def digest():
        return (spark.read.parquet(os.path.join(d, "segments"))
                .agg(F.sum(F.pmod(F.xxhash64(
                    "field", "term", "shard", "block_id", "doc_deltas",
                    "tfs", "dls", "positions"), F.lit(2**31))))
                .collect()[0][0])

    os.remove(os.path.join(d, "segments", "_STAGE_OK.json"))
    before = digest()
    b3 = IndexBuilder(spark, d)
    b3.build(corpus)
    assert b3.stages_run == ["segments"]
    assert "docs" in b3.stages_skipped
    assert before == digest(), "resumed build must reproduce identical segments"
    corpus.unpersist()


def test_merge_unaligned_spans_reshards_per_posting(spark, split_env,
                                                    tmp_path_factory):
    """ADVICE r1 (high): generations built with span 40 merged to span 25 —
    blocks straddle the new shard boundaries, so block-level re-sharding
    splits one doc's postings for different terms across shards (duplicate
    partial scores in OR, dropped docs in AND). The merge must detect the
    unaligned spans and re-shard PER POSTING."""
    full_dir, halves, _ = split_env
    out = str(tmp_path_factory.mktemp("unaligned")) + "/segments"
    avgdl = {f: s["avgdl"]
             for f, s in IndexReader(spark, full_dir).stats.items()}
    meta = merge_segments(spark, [os.path.join(h, "segments") for h in halves],
                          out, avgdl, 25)   # 25 does not divide 40
    assert meta["aligned_fast_path"] is False

    # 1. shard invariant: every block lies inside its shard's doc range
    seg = spark.read.parquet(out)
    bad = seg.filter(
        ((F.col("first_doc") / 25).cast("int") != F.col("shard"))
        | ((F.col("last_doc") / 25).cast("int") != F.col("shard"))).count()
    assert bad == 0, "a merged block crosses its shard boundary"

    # 2. posting-level equivalence with the single-shot build
    merged = segments_to_postings(spark, out)
    single = segments_to_postings(spark, os.path.join(full_dir, "segments"))
    key = ["field", "term", "doc_id"]
    diff = (merged.withColumnRenamed("tf", "tf_m").withColumnRenamed("dl", "dl_m")
            .withColumnRenamed("positions", "pos_m")
            .join(single, key, "full")
            .filter(F.col("tf_m").isNull() | F.col("tf").isNull()
                    | (F.col("tf_m") != F.col("tf"))
                    | (F.col("dl_m") != F.col("dl"))
                    | (F.col("pos_m") != F.col("positions"))))
    assert diff.count() == 0
    assert merged.count() == single.count()

    # 3. aligned case still takes the fast path (80 = 2×40)
    out2 = str(tmp_path_factory.mktemp("aligned")) + "/segments"
    meta2 = merge_segments(spark, [os.path.join(h, "segments") for h in halves],
                           out2, avgdl, 80)
    assert meta2["aligned_fast_path"] is True


def test_build_rejects_duplicate_identity(spark, tmp_path_factory):
    """Two rows with the same (repo, path) share a uuid — cursor resumes
    would be ambiguous, so the build must refuse (the reference's uuid
    HashMap silently last-wins; we fail loudly)."""
    d = str(tmp_path_factory.mktemp("dupidx"))
    corpus = with_doc_ids(generate_corpus(spark, 20, partitions=2))
    dup = corpus.unionByName(
        corpus.filter(F.col("doc_id") == 0).withColumn(
            "doc_id", F.lit(999).cast("long")))
    with pytest.raises(ValueError, match="duplicate document identity"):
        IndexBuilder(spark, d).build(dup)


def test_stage_marker_records_metrics(spark, tmp_path_factory):
    """Stage markers carry their stage's metrics, and a resumed build that
    skips every stage leaves them intact; the manifest's per-shard posting
    counts sum to Σdf of the reader's term_stats."""
    import json

    d = str(tmp_path_factory.mktemp("marker"))
    corpus = with_doc_ids(generate_corpus(spark, 60, partitions=2)).persist()
    man = IndexBuilder(spark, d).build(corpus)
    marker_path = os.path.join(d, "segments", "_STAGE_OK.json")
    with open(marker_path) as f:
        m1 = json.load(f)
    assert m1["metrics"]["n_blocks"] > 0 and m1["metrics"]["format"] == 2
    n_postings = int(IndexReader(spark, d).term_stats
                     .agg(F.sum("df")).collect()[0][0])
    assert sum(man["postings_per_shard"].values()) == n_postings
    b2 = IndexBuilder(spark, d)
    b2.build(corpus)
    assert "segments" in b2.stages_skipped
    with open(marker_path) as f:
        m2 = json.load(f)
    assert m2["metrics"] == m1["metrics"]
    corpus.unpersist()


def test_build_writes_no_side_tables(index_dir):
    """The term dictionary is the champions table and the uuid resolve
    reads the doc store: a build writes no term_stats/ or uuid_map/ table
    and no hash-bucket (bucket= / ubucket=) dir."""
    for root, dirs, _ in os.walk(index_dir):
        for name in dirs:
            assert name not in ("term_stats", "uuid_map"), root
            assert not name.startswith(("bucket=", "ubucket=")), root
