"""Tiered index reader — equality with full compaction + validation.

The serving layer's incremental compaction (VERDICT r4 item #1) rests on
one claim: an engine over the UNION of tiers answers every query
IDENTICALLY to an engine over the fully-compacted index (global stats are
integer sums → bit-equal; per-tier block-max bounds are rescaled by
max(1, avgdl_global/avgdl_tier), a proven upper bound → pruning stays
lossless). This suite is that differential: every query family the engine
supports, tiered vs compacted, exact equality.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from cantine_spark.api import SearchEngine
from cantine_spark.corpus import generate_corpus
from cantine_spark.index import IndexReader, SchemaMismatch
from cantine_spark.streaming import StreamingIndexer
from cantine_spark.tiered import TieredIndexReader

N = 150


@pytest.fixture(scope="module")
def tiered_env(spark, tmp_path_factory):
    """One root, 3 streaming generations; a full compaction AND a 2-tier
    split (gens 0-1 | gen 2) built from the same commits."""
    root = tmp_path_factory.mktemp("tiered")
    src = str(root / "incoming")
    os.makedirs(src)
    corpus = generate_corpus(spark, N, partitions=3)
    slices = [corpus.filter(F.crc32(F.concat("repo", "path")) % 3 == i)
              for i in range(3)]
    indexer = StreamingIndexer(spark, str(root / "index"))
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.mode("append").parquet(src)
        assert indexer.ingest_available(src, str(root / "ckpt")) == 1
    gens = indexer._load_state()["generations"]
    assert len(gens) == 3

    full_dir = indexer.compact(dest="full", shard_span=40)
    t0 = indexer.compact(dest="t0", generations=gens[:2], shard_span=40)
    t1 = indexer.compact(dest="t1", generations=gens[2:], shard_span=40)
    return full_dir, [t0, t1], indexer, gens


@pytest.fixture(scope="module")
def engines(spark, tiered_env):
    full_dir, tiers, _, _ = tiered_env
    e_full = SearchEngine(IndexReader(spark, full_dir))
    e_tier = SearchEngine(TieredIndexReader(spark, tiers))
    return e_full, e_tier


def _same(r1, r2, agg=False):
    assert r1.total_found == r2.total_found
    assert [(i["doc_id"], i["score"], i["uuid"], i["sort_val"])
            for i in r1.items] == \
           [(i["doc_id"], i["score"], i["uuid"], i["sort_val"])
            for i in r2.items]
    assert r1.next == r2.next
    if agg:
        assert r1.agg == r2.agg


QUERIES = [
    {"fulltext": "def", "num_items": 10},
    {"fulltext": "def return import", "num_items": 10},
    {"fulltext": "+def -import", "num_items": 10},
    {"fulltext": '"permission is hereby granted"', "num_items": 10},
    {"fulltext": "def", "num_items": 10,
     "filter": {"num_lines": [10, 40]}},
    {"fulltext": "def", "num_items": 10, "sort": "num_tokens"},
    {"fulltext": "def", "num_items": 10, "sort": "num_tokens",
     "ascending": True, "filter": {"num_lines": [5, 45]}},
]


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: str(sorted(q))[:45])
def test_tiered_equals_compacted(engines, q):
    e_full, e_tier = engines
    _same(e_full.search(dict(q)), e_tier.search(dict(q)))


def test_tiered_agg_equals_compacted(engines):
    e_full, e_tier = engines
    q = {"fulltext": "def", "num_items": 5,
         "agg": {"num_tokens": [[0, 100], [100, 1000]],
                 "num_lines": [[0, 25], [25, 60]]}}
    _same(e_full.search(dict(q)), e_tier.search(dict(q)), agg=True)


def test_tiered_cursor_walk_equals_compacted(engines):
    """Exhaustive pagination: both engines walk identical pages to the end
    (cursor resolution crosses tiers via every tier's doc store)."""
    e_full, e_tier = engines
    q = {"fulltext": "def return", "num_items": 7}
    seen_full, seen_tier = [], []
    for eng, seen in ((e_full, seen_full), (e_tier, seen_tier)):
        after, pages = None, 0
        while pages < 30:
            d = dict(q)
            if after:
                d["after"] = after
            r = eng.search(d)
            seen.extend((i["doc_id"], i["score"]) for i in r.items)
            pages += 1
            if not r.next:
                break
            after = r.next
    assert seen_full == seen_tier and len(seen_full) > 7


def test_tiered_global_stats_are_exact(spark, tiered_env, engines):
    full_dir, tiers, _, _ = tiered_env
    r_full = IndexReader(spark, full_dir)
    r_tier = TieredIndexReader(spark, tiers)
    assert r_tier.stats == r_full.stats          # integer-sum equivalence
    assert r_tier.num_docs == N
    # df aggregation across tiers matches the merged term_stats
    for fld, term in [("content", "def"), ("content", "import")]:
        df_full = (r_full.term_stats.filter(
            (F.col("field") == fld) & (F.col("term") == term))
            .collect()[0]["df"])
        df_tier = (r_tier.term_stats.filter(
            (F.col("field") == fld) & (F.col("term") == term))
            .collect()[0]["df"])
        assert df_full == df_tier


def test_tiered_bound_scaling_is_safe(spark, tiered_env):
    """The lossless-pruning invariant, checked PER POSTING: every doc's
    exact tf-normalization under the GLOBAL avgdl must be ≤ its block's
    rescaled upper bound. (Block-to-block comparison with the compacted
    index is meaningless — merge re-cuts blocks — but the per-doc bound is
    exactly what the kernel prunes with.)"""
    import numpy as np

    from cantine_spark.build.merge import segments_to_postings
    from cantine_spark.execution import driverexec
    from cantine_spark.execution.scoring import B, K1

    full_dir, tiers, _, _ = tiered_env
    r_tier = TieredIndexReader(spark, tiers)
    avgdl = {f: s["avgdl"] for f, s in r_tier.stats.items()}
    posts = [segments_to_postings(spark, os.path.join(tier, "segments"))
             .select("field", "term", "doc_id", "tf", "dl").toPandas()
             for tier in tiers]
    terms = set()
    for post in posts:
        terms |= set(zip(post["field"], post["term"]))
    # the rescaled blocks exactly as the kernel sees them (driver tier and
    # shard tasks read through the same point spec)
    blocks = driverexec.read_rows(
        r_tier.segment_point_spec(), terms,
        ("field", "term", "first_doc", "last_doc", "max_tfnorm"))
    checked = 0
    for post in posts:
        m = post.merge(blocks, on=["field", "term"], how="inner")
        m = m[(m["doc_id"] >= m["first_doc"]) & (m["doc_id"] <= m["last_doc"])]
        av = m["field"].map(avgdl).to_numpy(np.float64)
        tf = m["tf"].to_numpy(np.float64)
        dl = m["dl"].to_numpy(np.float64)
        tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / av))
        assert (tfn <= m["max_tfnorm"].to_numpy() * (1 + 1e-12)).all()
        checked += len(m)
    assert checked > 1000


def test_tiered_point_lookups(spark, tiered_env):
    full_dir, tiers, _, _ = tiered_env
    r_full = IndexReader(spark, full_dir)
    r_tier = TieredIndexReader(spark, tiers)
    some = r_full.docs.select("doc_id", "uuid").orderBy("doc_id").limit(
        200).collect()
    probe = [some[0], some[len(some) // 2], some[-1]]
    for row in probe:
        assert r_tier.id_for_uuid(row["uuid"]) == row["doc_id"]
        assert r_tier.find_by_id(row["doc_id"])["uuid"] == row["uuid"]


def test_term_dfs_equal_oracle(spark, tiered_env):
    """The driver-side df lookup (Σ n_total from the champions key
    directory, summed over tiers) equals the oracle's df for every
    (field, term) on the compacted reader and on the two-tier reader,
    and 0 for unknown terms."""
    from cantine_spark.build.builder import TEXT_FIELDS
    from cantine_spark.execution import driverexec
    from cantine_spark.execution.executor import SearchExecutor
    from cantine_spark.oracle import OracleIndex

    full_dir, tiers, _, _ = tiered_env
    r_full = IndexReader(spark, full_dir)
    corpus = (r_full.docs.select("doc_id", *TEXT_FIELDS).toPandas()
              .sort_values("doc_id").reset_index(drop=True))
    oracle = OracleIndex.build(corpus, list(TEXT_FIELDS))
    want = {(f, t): len(p) for f in oracle.fields
            for t, p in oracle.tfs[f].items()}
    unknown = {("content", "zzznope"), ("path", "qqqmissing")}
    fallbacks = driverexec.DRIVER_TIER_FALLBACKS
    for r in (r_full, TieredIndexReader(spark, tiers)):
        got = SearchExecutor(r).term_dfs(set(want) | unknown)
        assert got == {**want, **{ft: 0 for ft in unknown}}
    assert driverexec.DRIVER_TIER_FALLBACKS == fallbacks


def test_tiered_validation_errors(spark, tiered_env):
    full_dir, tiers, indexer, gens = tiered_env
    # span mismatch across tiers must be rejected up front
    odd = indexer.compact(dest="t_oddspan", generations=gens[2:],
                          shard_span=64)
    with pytest.raises(SchemaMismatch, match="shard_span"):
        TieredIndexReader(spark, [tiers[0], odd])
    # overlapping / out-of-order doc ranges must be rejected
    with pytest.raises(SchemaMismatch, match="overlap|order"):
        TieredIndexReader(spark, [tiers[1], tiers[0]])
    with pytest.raises(SchemaMismatch, match="overlap|order"):
        TieredIndexReader(spark, [full_dir, tiers[1]])
    with pytest.raises(ValueError, match="at least one"):
        TieredIndexReader(spark, [])


def test_single_tier_reader_equals_plain(spark, tiered_env):
    """A 1-tier TieredIndexReader is just a detour to the same answers."""
    full_dir, _, _, _ = tiered_env
    e1 = SearchEngine(IndexReader(spark, full_dir))
    e2 = SearchEngine(TieredIndexReader(spark, [full_dir]))
    q = {"fulltext": "def return", "num_items": 10,
         "filter": {"num_lines": [8, 45]}}
    _same(e1.search(dict(q)), e2.search(dict(q)))


def test_tiered_champions_engage_with_drift_safe_bound(spark, tiered_env):
    """Champion sidecars union across tiers: the spec is present (every
    tier carries one at the shared span), a hot single-term query is
    SERVED from champions — scored with the GLOBAL avgdl, tail bounds
    rescaled per tier by max(1, avgdl_global/avgdl_tier) — and is
    bit-equal to both the champion-free tiered path and the fully
    compacted index."""
    from cantine_spark.execution.wand import FastTopK
    from cantine_spark.plans.nodes import Term
    full_dir, tiers, _, _ = tiered_env
    r_tier = TieredIndexReader(spark, tiers)
    assert r_tier.champions_spec() is not None
    f_tier = FastTopK(r_tier)
    f_full = FastTopK(IndexReader(spark, full_dir))
    node = Term("content", "def")
    a = f_tier.search(node, k=10)
    assert a.champion_served and a.blocks_scored == 0
    for ref in (f_tier.search(node, k=10, use_champions=False),
                f_full.search(node, k=10)):
        assert a.total == ref.total
        assert [(d, float(np.float32(s))) for d, s in a.hits] == \
            [(d, float(np.float32(s))) for d, s in ref.hits]


def test_randomized_cross_path_fuzz(engines):
    """Seeded fuzz over the FULL serving matrix: every random query is
    answered by (a) the compacted single-index engine — the oracle-checked
    ground truth, (b) the tiered engine solo, and (c) the tiered engine
    through search_batch — and all three must agree exactly, including agg
    buckets and the continuation cursor (which is replayed across paths:
    a cursor minted by the compacted engine must resume the tiered one).
    This pins the r5 interactions no fixed-query test covers jointly:
    tier-union stats × champion seeding × range filters × field sorts ×
    fused aggs × micro-batching × pagination."""
    e_full, e_tier = engines
    rng = np.random.default_rng(20260818)
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

    for round_ in range(4):
        batch = [rand_query() for _ in range(2 + int(rng.integers(5)))]
        truth = [e_full.search(dict(q)) for q in batch]
        solo = [e_tier.search(dict(q)) for q in batch]
        batched = e_tier.search_batch([dict(q) for q in batch])
        for q, a, b, c in zip(batch, truth, solo, batched):
            _same(a, b, agg=True)
            _same(a, c, agg=True)
            if a.next:  # cursor minted on the compacted path resumes BOTH
                follow = {**q, "after": a.next}
                _same(e_full.search(dict(follow)),
                      e_tier.search(dict(follow)), agg=True)


def test_tiered_driver_tier_equals_cluster(spark, tiered_env):
    """Driver-tier point reads over a TIERED reader must apply the same
    per-tier max_tfnorm rescale the cluster plan applies
    (segment_point_spec ↔ segments_df), and champion tail bounds must stay
    drift-safe across tiers — pinned by exact equality on both paths."""
    from cantine_spark.execution.wand import FastTopK
    from cantine_spark.plans.nodes import DisMax, Phrase, Term

    _, tiers, _, _ = tiered_env
    r = TieredIndexReader(spark, tiers)
    fd, fc = FastTopK(r), FastTopK(r, use_driver=False)
    shapes = [
        Term("content", "def"),
        DisMax((Term("content", "def"), Term("path", "def")), 0.1),
        Phrase("content", ("def", "the")),
    ]
    for node in shapes:
        a, b = fd.search(node, k=8), fc.search(node, k=8)
        assert a.driver_served and not b.driver_served
        assert (a.hits, a.total, a.visited) == (b.hits, b.total, b.visited)
