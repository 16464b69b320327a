"""Segment kernel (compressed blocks + block-max pruning) vs the oracle +
pandas reference (tests/reference.py): pruning must be LOSSLESS — identical
totals, identical top-k doc_ids and f32 scores (SURVEY §7.2 step 6) — for
the FULL query algebra, and the decode counters must prove blocks were
actually skipped on hot terms."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from cantine_spark.build.segments import load_segments_meta
from cantine_spark.execution.wand import FastTopK
from cantine_spark.plans.nodes import (
    All, Boolean, Boost, DisMax, Phrase, Term,
)

from reference import assert_hits_match, assert_result_matches, walk_pages

K = 10


@pytest.fixture(scope="module")
def segments(index_dir):
    meta = load_segments_meta(index_dir)
    assert meta["format"] == 2 and meta["shard_span"] == 40
    return meta


@pytest.fixture(scope="module")
def fast(reader, executor, segments):
    return FastTopK(reader, executor=executor)


def assert_same(a, b):
    (ta, ia), (tb, ib) = a, b
    assert ta == tb
    sa = np.array([s for _, s in ia])
    sb = np.array([s for _, s in ib])
    np.testing.assert_allclose(sa, sb, rtol=1e-6, atol=1e-9)
    # identical doc sets within tie groups
    i = 0
    while i < len(ia):
        j = i
        while j < len(ia) and np.isclose(ia[j][1], ia[i][1], rtol=1e-7):
            j += 1
        assert {d for d, _ in ia[i:j]} == {d for d, _ in ib[i:j]}
        i = j


CASES = [
    ("content", ["def"], "or"),            # hot term → pruning kicks in
    ("content", ["parse00001"], "or"),     # zipf tail
    ("content", ["uniqterm00000007"], "or"),
    ("content", ["nosuchterm999"], "or"),
    ("content", ["def", "return", "import"], "or"),
    ("content", ["def", "merge00000"], "and"),
    ("content", ["def", "nosuchterm999"], "and"),
    ("path", ["src"], "or"),
]


@pytest.mark.parametrize("field,terms,mode", CASES)
def test_fast_path_equals_relational(oracle, fast, field, terms, mode):
    if mode == "or":
        node = Boolean(shoulds=tuple(Term(field, t) for t in terms))
    else:
        node = Boolean(musts=tuple(Term(field, t) for t in terms))
    assert fast.topk(field, terms, K, mode) == oracle.search(node, K)


TREES = [
    Boost(Term("content", "def"), 1.15),
    DisMax((Term("content", "def"), Term("path", "src")), 0.1),
    Boolean(musts=(Term("content", "def"),),
            shoulds=(Term("content", "parse00001"),),
            must_nots=(Term("content", "import"),)),
    Boolean(shoulds=(DisMax((Term("content", "merge00000"),
                             Term("path", "merge00000")), 0.1),
                     DisMax((Term("content", "def"),
                             Term("path", "def")), 0.1))),
    Phrase("content", ("permission", "is", "hereby", "granted")),
    Boolean(musts=(Phrase("content", ("is", "hereby")),
                   Term("content", "def"))),
]


@pytest.mark.parametrize("node", TREES, ids=lambda n: type(n).__name__)
def test_full_algebra_equals_relational(oracle, fast, node):
    assert_hits_match(fast.search(node, k=K), oracle.search(node, K))


def test_eligibility(oracle, fast):
    """Every tree runs on the kernel: match-all and pure-negative trees
    draw their candidates from the fast-field sidecar."""
    for node in (All(), Boolean(musts=(All(),),
                                must_nots=(Term("content", "def"),)),
                 Boolean(musts=(All(),), shoulds=(Term("content", "def"),))):
        assert_hits_match(fast.search(node, k=K), oracle.search(node, K))


@pytest.fixture(scope="module")
def big_fast(spark, tmp_path_factory):
    """Pruning only shows when a (term, shard) spans MULTIPLE blocks
    (>128 matching docs per shard) — needs a bigger corpus than the shared
    150-doc fixture. 1200 docs / span 600 → hot terms get ~5 blocks/shard."""
    from cantine_spark.build.builder import build_index
    from cantine_spark.build.segments import build_segments
    from cantine_spark.corpus import generate_corpus, with_doc_ids
    from cantine_spark.index import IndexReader
    d = str(tmp_path_factory.mktemp("prune_idx"))
    build_index(spark, with_doc_ids(generate_corpus(spark, 1200,
                                                    partitions=4)), d)
    build_segments(spark, d, shard_span=600)
    return FastTopK(IndexReader(spark, d))


def test_kernel_unit_skips_low_bound_blocks():
    """Direct kernel call on handcrafted blocks: one high-tf block, four
    low-tf blocks. The seed's kth score must exceed the low blocks' bounds,
    so their tfs/dls are never decoded (the block-max invariant)."""
    import pandas as pd
    from cantine_spark.build.segments import SEGMENT_SCHEMA, _encode_group_blocks
    from cantine_spark.execution.scoring import idf as idf_fn
    from cantine_spark.execution.wand import make_kernel
    avgdl = 50.0
    docs = np.arange(640, dtype=np.int64)
    tfs = np.where(docs < 128, 20, 1).astype(np.int64)   # block 0 hot
    dls = np.full(640, 50, dtype=np.int64)
    rows = _encode_group_blocks("content", "t", 0, docs, tfs, dls, avgdl)
    pdf = pd.DataFrame(rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])
    idfs = {("content", "t"): idf_fn(640, 10_000)}
    kern = make_kernel(Term("content", "t"), idfs, {"content": avgdl},
                       5, None, False, seed_min=8)
    out = kern(0, pdf)
    hits = out[out.doc_id >= 0].sort_values(
        ["score", "doc_id"], ascending=[False, True])
    assert list(hits.doc_id) == [0, 1, 2, 3, 4]
    assert int(out.shard_total.iat[0]) == 640
    assert int(out.blocks_scored.iat[0]) == 1, "low-bound blocks were decoded"
    assert int(out.blocks_total.iat[0]) == 5


def test_drop_zip_finders_keeps_imports_working(tmp_path, monkeypatch):
    """Query-side tasks start with wand._worker_prologue, which deletes the
    zipimporter entries from sys.path_importer_cache so that pyspark's
    per-task importlib.invalidate_caches() has no zip directory to re-read.
    Imports from the zip must still work afterwards. Outside a Spark task
    (no TaskContext, as here) the prologue freezes nothing."""
    import gc
    import importlib
    import sys
    import zipfile
    import zipimport

    from cantine_spark.execution.wand import _worker_prologue

    z = tmp_path / "zipmods.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("cantine_zipmod_a.py", "A = 1\n")
        f.writestr("cantine_zipmod_b.py", "B = 2\n")
    monkeypatch.syspath_prepend(str(z))
    for m in ("cantine_zipmod_a", "cantine_zipmod_b"):
        monkeypatch.delitem(sys.modules, m, raising=False)
    assert importlib.import_module("cantine_zipmod_a").A == 1
    assert isinstance(sys.path_importer_cache[str(z)],
                      zipimport.zipimporter)
    frozen = gc.get_freeze_count()
    try:
        _worker_prologue()
        assert not any(isinstance(f, zipimport.zipimporter)
                       for f in sys.path_importer_cache.values())
        assert gc.get_freeze_count() == frozen
        importlib.invalidate_caches()
        assert importlib.import_module("cantine_zipmod_b").B == 2
    finally:
        for m in ("cantine_zipmod_a", "cantine_zipmod_b"):
            sys.modules.pop(m, None)


_PROLOGUE_SCRIPT = """
import gc
from cantine_spark.execution import wand

wand._worker_prologue()
assert gc.get_freeze_count() == 0, "froze without a task context"

class InTask:
    @staticmethod
    def get():
        return object()

wand.TaskContext = InTask
wand._worker_prologue()
first = gc.get_freeze_count()
assert first > 0, "first task did not freeze the heap"
junk = [[i] for i in range(10_000)]
wand._worker_prologue()
assert gc.get_freeze_count() == first, "second task froze again"
print("ok")
"""


def test_worker_prologue_freezes_heap_once_per_worker():
    """Inside a Spark task the prologue collects and freezes the worker's
    heap once, so pyspark's full gc.collect() after every task of a reused
    worker scans only what later tasks allocate. Checked in a subprocess
    with a stubbed TaskContext: this process's GC state stays untouched."""
    import os
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p))
    out = subprocess.run([sys.executable, "-c", _PROLOGUE_SCRIPT], env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"


def test_and_rare_hot_skips_hot_blocks(big_fast):
    """AND of a 1-doc term with a hot term: the candidate set is 1 doc, so
    only the hot-term block CONTAINING that doc gets a score decode — at
    scale this is the difference between decoding 100 blocks and 10^6."""
    node = Boolean(musts=(Term("content", "def"),
                          Term("content", "uniqterm00000007")))
    r = big_fast.search(node, k=5, seed_min=8)
    assert r.total == 1
    assert r.blocks_scored < r.blocks_total, (
        f"scored {r.blocks_scored}/{r.blocks_total}")
    assert r.blocks_scored <= 4
    full = big_fast.search(node, k=5, seed_min=10_000,
                           use_champions=False)
    assert_same((r.total, r.hits), (full.total, full.hits))


def test_or_rare_plus_hot_prunes_hot_tail(big_fast):
    """OR of rare-high-idf + hot-low-idf: θ is set by the rare term's score,
    so hot-only docs (bound « θ) are never exact-scored. Blocks holding no
    survivor keep their tfs/dls compressed."""
    node = Boolean(shoulds=(Term("content", "def"),
                            Term("content", "uniqterm00000007")))
    r = big_fast.search(node, k=1, seed_min=8)
    full = big_fast.search(node, k=1, seed_min=10_000,
                           use_champions=False)
    assert_same((r.total, r.hits), (full.total, full.hits))
    assert full.blocks_scored == full.blocks_total
    assert r.blocks_scored < r.blocks_total, (
        f"scored {r.blocks_scored}/{r.blocks_total}")


def test_hot_term_pruned_path_is_lossless(big_fast):
    """Uniform hot term: every 128-doc block holds a near-max scorer, so
    bounds are tight and little can be skipped — the pruned path must then
    degrade gracefully to exact results (never wrong, never worse than the
    reference's visit-everything collector)."""
    node = Term("content", "def")
    r = big_fast.search(node, k=5, seed_min=32)
    full = big_fast.search(node, k=5, seed_min=10_000,
                           use_champions=False)
    assert r.total > 1000
    assert_same((r.total, r.hits), (full.total, full.hits))
    assert r.blocks_scored <= full.blocks_scored


def test_pagination_in_kernel(reference, fast):
    """Cursor predicate applied in-kernel equals the reference's page 2,
    and visited counts follow the reference's condition semantics."""
    node = Term("content", "def")
    r1 = fast.search(node, k=K)
    ref = (r1.hits[-1][1], r1.hits[-1][0])  # (score, doc_id) of last hit
    r2 = fast.search(node, k=K, after=ref)
    assert r2.total == r1.total
    assert r2.visited == r1.total - K
    expect = reference.search(node, k=K, after=ref)
    assert r2.visited == expect["visited"]
    assert r2.hits == [(d, s) for d, s, _ in expect["items"]]
    assert not ({d for d, _ in r1.hits} & {d for d, _ in r2.hits})


def test_ascending_relevance(oracle, fast):
    node = Term("content", "merge00016")  # df≈82 in the 150-doc corpus
    r = fast.search(node, k=K, ascending=True)
    assert_hits_match(r, oracle.search(node, K, ascending=True))


def test_segment_roundtrip_covers_all_postings(spark, reader, segments,
                                               oracle):
    """Block metadata, the decoded blocks and term_stats must account for
    the same postings, which are the oracle's: per (field, term) Σ n_docs
    of the blocks = decoded posting rows = df."""
    from cantine_spark.build.merge import segments_to_postings
    seg = spark.read.parquet(f"{reader.index_dir}/segments")
    per_term_blocks = (seg.groupBy("field", "term")
                       .agg(F.sum("n_docs").alias("n_blocks")))
    per_term_postings = (
        segments_to_postings(spark, f"{reader.index_dir}/segments")
        .groupBy("field", "term").agg(F.count("*").alias("n_postings")))
    joined = (per_term_blocks.join(per_term_postings, ["field", "term"], "full")
              .join(reader.term_stats.select("field", "term", "df"),
                    ["field", "term"], "full"))
    rows = joined.collect()
    assert {(r["field"], r["term"]): (r["n_blocks"], r["n_postings"], r["df"])
            for r in rows} == {
        (f, t): (len(p), len(p), len(p))
        for f in oracle.fields for t, p in oracle.tfs[f].items()}


def test_blocks_respect_shard_and_size(spark, reader, segments):
    seg = spark.read.parquet(f"{reader.index_dir}/segments")
    span = segments["shard_span"]
    bad = seg.filter((F.col("first_doc") / span).cast("int") != F.col("shard")) \
             .count()
    bad += seg.filter((F.col("last_doc") / span).cast("int") != F.col("shard")) \
              .count()
    assert bad == 0, "a block crosses its doc-range shard boundary"
    assert seg.filter(F.col("n_docs") > segments["block_size"]).count() == 0


def test_positions_travel_with_blocks(spark, reader, segments):
    """Every block's positions blob length == 4·Σtf (packed <i4)."""
    from cantine_spark.build.codec import decode_varint
    seg = spark.read.parquet(f"{reader.index_dir}/segments").limit(50)
    for row in seg.collect():
        tfs = decode_varint(row["tfs"])
        assert len(row["positions"]) == 4 * int(tfs.sum())


def test_concurrent_queries_leave_session_conf_alone(spark, oracle, fast):
    """VERDICT r2 'What's wrong' #1: concurrent searches never race on (or
    leak) the session's SQL conf. Four threads query at once; results stay
    correct and the AQE/shuffle confs are untouched."""
    import threading

    conf = spark.conf
    aqe_before = conf.get("spark.sql.adaptive.enabled")
    shuf_before = conf.get("spark.sql.shuffle.partitions")
    node = Term("content", "def")
    expected = oracle.search(node, K)

    results = [None] * 4
    errors = []

    def run(i):
        try:
            r = fast.search(node, k=K)
            results[i] = (r.total, r.hits)
        except Exception as e:  # noqa: BLE001 — surfaced via assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    for r in results:
        assert r == expected
    assert conf.get("spark.sql.adaptive.enabled") == aqe_before
    assert conf.get("spark.sql.shuffle.partitions") == shuf_before


# ---------------------------------------------------------------------------
# filtered / field-sorted / aggregating fulltext on the sidecar kernel
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def engine(reader):
    from cantine_spark.api import SearchEngine
    return SearchEngine(reader)


FILTERED_QUERIES = [
    {"fulltext": "def", "filter": {"num_lines": [5, 40]}, "num_items": 7},
    {"fulltext": "def return",
     "filter": {"num_lines": [0, 60], "content_bytes": [0, 5000]}},
    {"fulltext": "+def -import", "filter": {"num_lines": [0, 100]}},
    {"fulltext": '"def parse00001"', "filter": {"num_lines": [0, 500]}},
    {"fulltext": "def", "filter": {"num_lines": [10**6, 10**7]}},  # empty
]

SORTED_QUERIES = [
    {"fulltext": "def", "sort": "num_lines", "num_items": 9},
    {"fulltext": "def", "sort": "num_lines", "ascending": True},
    {"fulltext": "def", "sort": "num_lines", "filter": {"num_lines": [3, 50]}},
    {"fulltext": "def", "sort": "avg_line_len", "num_items": 6},   # f64 kind
    {"fulltext": "def", "sort": "num_functions", "num_items": 8},  # nullable
]


@pytest.mark.parametrize("q", FILTERED_QUERIES)
def test_kernel_filtered_matches_relational(engine, reference, q):
    """Range filters run IN the segment kernel (numpy masks over the
    shard-local fast-field sidecar, like a Must clause) and must equal the
    oracle + pandas reference: same totals, same ranked top-k."""
    assert_result_matches(engine.search(dict(q)),
                          reference.query(engine, q))


@pytest.mark.parametrize("q", SORTED_QUERIES)
def test_kernel_field_sort_matches_relational(engine, reference, q):
    """Field-sorted fulltext ranks in-kernel by the sidecar fast-field value
    (missing → 0 fill) with doc_id-asc tie-break: items must be IDENTICAL to
    the reference — (doc_id, f32 score, sort_val) exactly, and the sort
    value typed by the feature's kind."""
    a = engine.search(dict(q))
    assert_result_matches(a, reference.query(engine, q))
    kind = engine.features[q["sort"]].kind
    assert all(type(i["sort_val"]) is (int if kind == "u64" else float)
               for i in a.items)


def test_kernel_pagination_filtered_sorted_exhaustive(engine, reference):
    """Cursor-walk a filtered, field-sorted query to exhaustion: every page
    equals the reference's, no overlap, every match visited once."""
    base = {"fulltext": "def", "sort": "num_lines",
            "filter": {"num_lines": [2, 80]}, "num_items": 4}
    assert (walk_pages(engine, reference, base)
            == engine.search(dict(base)).total_found)


AGG_QUERIES = [
    {"fulltext": "def",
     "agg": {"num_lines": [[0, 20], [20, 40], [40, 10**6]]}},
    {"fulltext": "def return", "filter": {"content_bytes": [0, 100000]},
     "agg": {"num_lines": [[0, 30]], "avg_line_len": [[0.0, 25.0]]}},
    {"fulltext": "def", "agg": {"num_functions": [[0, 100]]}},  # nullable
    {"fulltext": "def", "agg": {"num_lines": [[1000, 2000]]}},  # empty bucket
    # r4 combined shapes: filter + sort + agg (+ ascending) in ONE kernel
    # job — filters and sort values from the sidecar, agg partials fused
    {"fulltext": "def", "sort": "num_lines", "ascending": True,
     "filter": {"num_lines": [2, 60], "content_bytes": [0, 100000]},
     "agg": {"num_lines": [[0, 30], [30, 10**6]],
             "num_functions": [[0, 100]]}, "num_items": 7},
    {"fulltext": '"def parse00001"', "sort": "avg_line_len",
     "filter": {"avg_line_len": [0.0, 40.0]},
     "agg": {"content_bytes": [[0, 10**6]]}, "num_items": 5},
]


@pytest.mark.parametrize("q", AGG_QUERIES)
def test_kernel_agg_matches_relational(engine, reference, q):
    """Aggregations with fulltext fuse into the kernel job — candidates
    decoded once, feature values from the shard-local sidecar, partials
    merged on the driver. Must equal the reference exactly: same RangeStats
    (inverted seeds for empty buckets, nulls never collected), same items,
    same totals."""
    assert_result_matches(engine.search(dict(q)),
                          reference.query(engine, q))


def test_randomized_differential_kernel_vs_relational(reader, engine,
                                                      reference):
    """Seeded fuzz: random query trees (Term/Phrase/Boolean/DisMax/Boost
    over real + garbage vocabulary, pure-negative ones included) and random
    filtered/sorted dict queries, kernel vs the oracle + pandas reference.
    The hand-picked grids above pin known shapes; this sweeps the space
    between them deterministically (seed fixed)."""
    from cantine_spark.analysis import tokenize_text

    rng = np.random.default_rng(20260817)
    ts = (reader.term_stats.filter(F.col("field") == "content")
          .orderBy(F.desc("df"), "term").limit(60).collect())
    vocab = [r["term"] for r in ts] + ["zzznope", "qqqmissing"]
    # real adjacent-token phrases from one document
    row = reader.find_by_id(3)
    toks = tokenize_text(row["content"])
    phrases = [(toks[i], toks[i + 1]) for i in
               rng.choice(max(1, len(toks) - 1), size=4, replace=False)]

    def term():
        return Term("content", vocab[int(rng.integers(len(vocab)))])

    def tree(depth=0):
        c = rng.random()
        if depth >= 2 or c < 0.35:
            if rng.random() < 0.2:
                w1, w2 = phrases[int(rng.integers(len(phrases)))]
                return Phrase("content", (w1, w2))
            return term()
        if c < 0.5:
            return Boost(tree(depth + 1), float(0.5 + rng.random()))
        if c < 0.7:
            kids = tuple(tree(depth + 1)
                         for _ in range(2 + int(rng.integers(2))))
            return DisMax(kids, float(rng.choice([0.0, 0.1, 0.5])))
        n_m, n_s, n_mn = (int(rng.integers(2)), int(rng.integers(3)),
                          int(rng.integers(2)))
        if n_m + n_s + n_mn == 0:
            n_s = 1  # n_mn alone: a pure-negative (match-all) clause
        return Boolean(musts=tuple(tree(depth + 1) for _ in range(n_m)),
                       shoulds=tuple(tree(depth + 1) for _ in range(n_s)),
                       must_nots=tuple(tree(depth + 1) for _ in range(n_mn)))

    for i in range(18):
        node = tree()
        asc = bool(rng.random() < 0.25)
        a = engine.search_node(node, k=10, ascending=asc)
        assert (a.total, a.hits) == reference.oracle.search(
            node, 10, ascending=asc), (i, node)

    feats = ["num_lines", "content_bytes", "avg_line_len", "num_functions"]
    for i in range(10):
        q = {"fulltext": " ".join(vocab[int(rng.integers(len(vocab)))]
                                  for _ in range(1 + int(rng.integers(3)))),
             "num_items": int(rng.integers(1, 30))}
        if rng.random() < 0.7:
            f = feats[int(rng.integers(len(feats)))]
            lo = int(rng.integers(0, 50))
            q["filter"] = {f: [lo, lo + int(rng.integers(1, 3000))]}
        if rng.random() < 0.6:
            q["sort"] = feats[int(rng.integers(len(feats)))]
            q["ascending"] = bool(rng.random() < 0.5)
        if rng.random() < 0.5:  # r4: fused agg fuzzed against two-pass
            af = feats[int(rng.integers(len(feats)))]
            cut = int(rng.integers(1, 60))
            q["agg"] = {af: [[0, cut], [cut, 10**6]]}
        assert_result_matches(engine.search(dict(q)),
                              reference.query(engine, q))


def test_phrase_rarest_first_zipper_shrinks_decode(spark, tmp_path_factory):
    """r6 (VERDICT r5 #6): the phrase zipper processes constituent terms
    rarest-first and shrinks the candidate set between terms, so a later
    term decodes tf/positions only for docs still holding a start. Three
    equal-coverage terms, adjacency true only in a clustered dozen docs:
    the old kernel decoded every candidate block of all three terms
    (scored == total); the shrunk zipper leaves the last term's
    non-survivor blocks undecoded — with exact totals and matches."""
    from cantine_spark.build.builder import build_index
    from cantine_spark.build.segments import build_segments
    from cantine_spark.corpus import with_doc_ids
    from cantine_spark.index import IndexReader
    from cantine_spark.plans.nodes import Phrase

    d = str(tmp_path_factory.mktemp("phrase_idx"))
    n, n_match = 1200, 12
    rows = []
    for i in range(n):
        body = ("alpha beta gamma end" if i < n_match
                else "alpha x beta y gamma z")
        rows.append(("r", f"f{i}.py", "c0", "py", f"{body} filler{i}"))
    corpus = spark.createDataFrame(
        rows, "repo string, path string, commit string, lang string, "
              "content string")
    build_index(spark, with_doc_ids(corpus), d)
    build_segments(spark, d, shard_span=300)
    fast = FastTopK(IndexReader(spark, d))
    node = Phrase("content", ("alpha", "beta", "gamma"))
    res = fast.search(node, k=5)
    assert res.total == n_match
    assert len(res.hits) == 5
    assert res.blocks_scored < res.blocks_total, (
        f"phrase zipper decoded every block "
        f"({res.blocks_scored}/{res.blocks_total})")
