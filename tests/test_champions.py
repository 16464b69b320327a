"""Per-term champion sidecar (build/champions.py + the seeded kernel path
in execution/wand.py): hot-term top-k served from impact-ordered posting
heads must be LOSSLESS — identical totals, doc_ids and f32 scores to the
champion-free block path — while provably decoding fewer blocks. This is
beyond-reference work on the reference's own hot-term weakness (tantivy
scores every match, tique top_collector.rs:228-237); correctness is pinned
by differential equality against the r4 block path, which the rest of the
suite already pins against the pandas oracle and the DuckDB oracle."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from cantine_spark.build.builder import build_index
from cantine_spark.build.champions import (
    CHAMP_COUNT, load_champions_meta, write_champions,
)
from cantine_spark.build.segments import build_segments, load_segments_meta
from cantine_spark.corpus import generate_corpus, with_doc_ids
from cantine_spark.execution.wand import FastTopK
from cantine_spark.index import IndexReader
from cantine_spark.plans.nodes import Boolean, Boost, DisMax, Phrase, Term

K = 10

HOT = Term("content", "def")
# the 2-field DisMax every engine fulltext query expands to (parser
# multi-field expansion, main.rs:156) — the q_hot_term production shape
HOT_DISMAX = DisMax((Term("content", "def"), Term("path", "def")), 0.1)


@pytest.fixture(scope="module")
def champ_idx(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("champ_idx"))
    build_index(spark, with_doc_ids(generate_corpus(spark, 1200,
                                                    partitions=4)), d)
    build_segments(spark, d, shard_span=300)  # 4 shards
    return d


@pytest.fixture(scope="module")
def champ_fast(spark, champ_idx):
    # use_driver=False: these tests pin the CLUSTER champion/seeded
    # kernel paths (the driver tier's equality has its own suite,
    # test_driverexec.py)
    return FastTopK(IndexReader(spark, champ_idx), use_driver=False)


def _same(a, b):
    assert (a.total, a.visited) == (b.total, b.visited)
    assert [(d, np.float32(s)) for d, s in a.hits] == \
        [(d, np.float32(s)) for d, s in b.hits]


# ------------------------------------------------------------ build side


def test_sidecar_written_with_segments(index_dir, reader):
    """build_segments rewrites the champion sidecar with the segments (same
    span discipline as fastfields — they can never disagree)."""
    meta = load_champions_meta(index_dir)
    assert meta is not None
    assert meta["shard_span"] == load_segments_meta(index_dir)["shard_span"]
    assert meta["cap"] == CHAMP_COUNT
    assert reader.champions_spec() == {
        "shard_span": meta["shard_span"], "cap": meta["cap"]}


def test_fused_equals_standalone_sidecar(spark, index_dir, tmp_path):
    """r7: the fused build path (champion rows emitted by the segment
    encoder from raw postings, build/segments.py) must be BIT-EQUAL to the
    standalone write_champions derivation (segments re-read + varint
    decode) — same groups, heads, tie order, tail bounds, block counts,
    cf."""
    import shutil

    champ = os.path.join(index_dir, "champions")
    keep = str(tmp_path / "fused_champions")
    shutil.copytree(champ, keep)
    meta = load_champions_meta(index_dir)
    write_champions(spark, index_dir,
                    {k: float(v) for k, v in meta["avgdl"].items()},
                    int(meta["shard_span"]), cap=int(meta["cap"]))
    cols = ["field", "term", "shard", "n_total", "n_champ", "n_blocks",
            "doc_ids", "tfs", "dls", "tail_tfnorm", "avgdl_build", "cf"]
    a = (spark.read.parquet(keep).select(*cols)
         .toPandas().sort_values(["field", "term", "shard"])
         .reset_index(drop=True))
    b = (spark.read.parquet(champ).select(*cols)
         .toPandas().sort_values(["field", "term", "shard"])
         .reset_index(drop=True))
    assert len(a) == len(b) and len(a) > 0
    for c in cols:
        assert a[c].equals(b[c]), f"column {c} differs"
    shutil.rmtree(champ)
    shutil.copytree(keep, champ)  # restore for other session-scoped suites


def test_segments_from_lineage_equals_parquet(spark, champ_idx, tmp_path):
    """build_segments fed a posting-row DataFrame (the builder passes its
    in-flight invert lineage) must produce BIT-EQUAL segments + champions
    tables to the encode it re-encodes, regardless of input partitioning —
    the encode shuffle re-keys by a pure hash and sorts on the unique
    (shard, field, term, doc_id) key. The rows here are the index's own
    segments decoded back (merge.segments_to_postings)."""
    import shutil

    from cantine_spark.build.merge import segments_to_postings

    d2 = str(tmp_path / "lineage_idx")
    shutil.copytree(champ_idx, d2)
    shutil.rmtree(os.path.join(d2, "segments"))
    shutil.rmtree(os.path.join(d2, "champions"))
    # adversarial input layout: different partition count AND ordering
    # from both the builder lineage and the parquet read
    src = (segments_to_postings(spark, os.path.join(champ_idx, "segments"))
           .repartition(7).sortWithinPartitions("doc_id"))
    build_segments(spark, d2, shard_span=300, postings_df=src)
    for table, keys in (("segments", ["shard", "field", "term", "block_id"]),
                        ("champions", ["field", "term", "shard"])):
        a = (spark.read.parquet(os.path.join(champ_idx, table))
             .toPandas().sort_values(keys).reset_index(drop=True))
        b = (spark.read.parquet(os.path.join(d2, table))
             .toPandas().sort_values(keys)[a.columns].reset_index(drop=True))
        assert len(a) == len(b) and len(a) > 0
        for c in a.columns:
            assert a[c].equals(b[c]), f"{table}.{c} differs"


def test_champion_rows_are_true_tfnorm_heads(spark, champ_idx):
    """For a hot (field, term, shard): the stored head IS the top-C by
    build tfnorm over that shard's postings, complete groups store
    tail_tfnorm = 0, and truncated groups store the max non-head tfnorm."""
    from cantine_spark.build.merge import segments_to_postings
    from cantine_spark.execution.scoring import B, K1
    ch = (spark.read.parquet(os.path.join(champ_idx, "champions"))
          .filter("field = 'content' AND term = 'def'").toPandas()
          .sort_values("shard").reset_index(drop=True))
    assert len(ch) >= 2
    stats = (spark.read.parquet(os.path.join(champ_idx, "index_stats"))
             .toPandas().set_index("field"))
    av = float(stats.loc["content", "avgdl"])
    post = (segments_to_postings(spark, os.path.join(champ_idx, "segments"))
            .filter("field = 'content' AND term = 'def'")
            .select("doc_id", "tf", "dl").toPandas())
    span = load_segments_meta(champ_idx)["shard_span"]
    for r in ch.itertuples(index=False):
        grp = post[post.doc_id // span == r.shard]
        tf = grp.tf.to_numpy(np.float64)
        dl = grp.dl.to_numpy(np.float64)
        tfn = tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / av))
        order = np.lexsort((grp.doc_id.to_numpy(), -tfn))
        docs = np.frombuffer(r.doc_ids, dtype="<u8").astype(np.int64)
        want = grp.doc_id.to_numpy()[order[:len(docs)]]
        assert list(docs) == list(want)
        assert r.n_total == len(grp)
        if len(grp) <= len(docs):
            assert r.tail_tfnorm == 0.0
        else:
            assert np.isclose(r.tail_tfnorm, tfn[order[len(docs)]])


# ------------------------------------------------------- query-side paths


def test_bare_term_served_without_touching_segments(champ_fast,
                                                    monkeypatch):
    """A single-term relevance top-k reads ONLY the champion sidecar — no
    segments read, zero blocks decoded — and is bit-equal to the block
    path. The champion tasks read in Python workers, so the test captures
    the job's task function and replays it in this process over every
    shard id, recording each point read's table."""
    from cantine_spark.execution import driverexec, wand

    champ_tasks, kernel_tasks = [], []
    make_champion_task, make_shard_task = (wand.make_champion_task,
                                           wand.make_shard_task)

    def champion_spy(*a):
        champ_tasks.append(make_champion_task(*a))
        return champ_tasks[-1]

    def kernel_spy(*a):
        kernel_tasks.append(make_shard_task(*a))
        return kernel_tasks[-1]

    monkeypatch.setattr(wand, "make_champion_task", champion_spy)
    monkeypatch.setattr(wand, "make_shard_task", kernel_spy)
    a = champ_fast.search(HOT, k=K)
    assert a.champion_served and a.blocks_scored == 0
    assert len(champ_tasks) == 1 and not kernel_tasks
    monkeypatch.undo()

    specs = []
    read_rows = driverexec.read_rows

    def recording(spec, terms, columns, shards=None):
        specs.append(spec)
        return read_rows(spec, terms, columns, shards=shards)

    monkeypatch.setattr(driverexec, "read_rows", recording)
    assert list(champ_tasks[0](iter(champ_fast._shards)))
    champ_spec = champ_fast.reader.champion_point_spec()
    assert specs and all(s == champ_spec for s in specs)
    monkeypatch.undo()
    b = champ_fast.search(HOT, k=K, use_champions=False)
    assert not b.champion_served
    _same(a, b)


def test_hot_dismax_seeded_kernel_lossless_and_prunes(champ_fast):
    """The production hot-term shape: champion-seeded kernel equals the
    block path exactly while decoding strictly fewer blocks."""
    a = champ_fast.search(HOT_DISMAX, k=K, seed_min=8)
    b = champ_fast.search(HOT_DISMAX, k=K, seed_min=10_000,
                          use_champions=False)
    _same(a, b)
    assert a.blocks_scored < b.blocks_scored, (
        f"champion seed decoded {a.blocks_scored}/{a.blocks_total}")


@pytest.mark.parametrize("node", [
    Boolean(musts=(Term("content", "def"), Term("content", "return"))),
    Boolean(shoulds=(Term("content", "def"), Term("content", "import"))),
    Boolean(shoulds=(Term("content", "def"),),
            must_nots=(Term("content", "import"),)),
    Boost(Term("content", "def"), 2.5),
    DisMax((Boost(Term("path", "src"), 1.15), Term("content", "def")), 0.1),
], ids=["must", "should", "mustnot", "boost", "dismax_boost"])
def test_tree_equality_champion_vs_block(champ_fast, node):
    a = champ_fast.search(node, k=K, seed_min=8)
    b = champ_fast.search(node, k=K, seed_min=10_000, use_champions=False)
    _same(a, b)


def test_filtered_and_fused_agg_ride_the_seeded_kernel(champ_fast):
    """In-kernel range filters and fused aggregation compose with champion
    seeding: the seed intersects the filtered candidate set, agg partials
    come from the FULL candidate set — both bit-equal to the block path."""
    kw = dict(filters={"num_lines": (3, 60)},
              agg_query={"num_lines": [(0, 30), (30, 10**6)]})
    a = champ_fast.search(HOT_DISMAX, k=K, seed_min=8, **kw)
    b = champ_fast.search(HOT_DISMAX, k=K, seed_min=10_000,
                          use_champions=False, **kw)
    _same(a, b)
    assert a.agg == b.agg
    assert sum(c for c, _, _ in a.agg["num_lines"]) == a.total


def test_pagination_never_served_from_champions(champ_fast):
    """after-cursors need exact visited counts below the cursor — the
    champion heads cannot provide them, so page 2 must run the exact
    path (and stay equal to the champion-free page 2)."""
    p1 = champ_fast.search(HOT, k=K)
    after = (p1.hits[-1][1], p1.hits[-1][0])
    p2 = champ_fast.search(HOT, k=K, after=after)
    assert not p2.champion_served
    p2_ref = champ_fast.search(HOT, k=K, after=after, use_champions=False)
    _same(p2, p2_ref)
    assert not ({d for d, _ in p1.hits} & {d for d, _ in p2.hits})


def test_rare_term_complete_list_serves_below_k(champ_fast):
    """Rare terms (n ≤ C) are stored COMPLETE (tail 0): served from the
    sidecar even when the result has fewer than k hits."""
    node = Term("content", "uniqterm00000007")
    a = champ_fast.search(node, k=K)
    assert a.champion_served and a.total == 1 and len(a.hits) == 1
    b = champ_fast.search(node, k=K, use_champions=False)
    _same(a, b)


def test_tiny_cap_tail_bound_forces_fallback(spark, champ_idx, tmp_path):
    """cap=1 heads cannot cover k=10 against a nonzero tail bound: the
    driver must detect it and fall back to the block path — same results,
    champion_served False. Runs on a COPY of the index: rewriting the
    shared module index would strand the module fixture's cached parquet
    file listing (Spark captures it at read time)."""
    import shutil

    idx = str(tmp_path / "capidx")
    shutil.copytree(champ_idx, idx)
    stats = (spark.read.parquet(os.path.join(idx, "index_stats"))
             .toPandas())
    avgdl = {r["field"]: float(r["avgdl"]) for _, r in stats.iterrows()}
    span = load_segments_meta(idx)["shard_span"]
    write_champions(spark, idx, avgdl, span, cap=1)
    fast = FastTopK(IndexReader(spark, idx))
    a = fast.search(HOT, k=K)
    assert not a.champion_served
    b = fast.search(HOT, k=K, use_champions=False)
    _same(a, b)


def test_stale_span_disables_champions(spark, champ_idx):
    """A span-mismatched sidecar (segments re-encoded, champions not yet
    rewritten — can't happen through build_segments, but fail safe) must
    disable the champion path entirely, not serve wrong shards."""
    meta_p = os.path.join(champ_idx, "champions", "_CHAMPIONS_META.json")
    orig = open(meta_p).read()
    try:
        m = json.loads(orig)
        m["shard_span"] = m["shard_span"] + 1
        with open(meta_p, "w") as f:
            json.dump(m, f)
        fast = FastTopK(IndexReader(spark, champ_idx))
        assert not fast._champions
        a = fast.search(HOT, k=K)
        assert not a.champion_served and a.hits
    finally:
        with open(meta_p, "w") as f:
            f.write(orig)


# ---- r6: two-phase seed pruning (the q_dismax_fielded hole) ----

# the production fielded-DisMax shape: a df≈N flat leaf (path:src matches
# every doc) plus two hot 2-field DisMax expansions — exactly what
# "path:src def return" parses to
FIELDED = Boolean(shoulds=(
    Boost(Term("path", "src"), 1.15),
    DisMax((Boost(Term("content", "def"), 1.0),
            Boost(Term("path", "def"), 1.15)), 0.1),
    DisMax((Boost(Term("content", "return"), 1.0),
            Boost(Term("path", "return"), 1.15)), 0.1),
))


def test_fielded_dismax_seed_pruning_lossless_and_tight(champ_fast):
    """r5's residual scale-killer: the union seed (heads of EVERY leaf)
    forced exact scoring of ~C arbitrary docs per flat leaf, decoding
    92-98% of blocks. The r6 two-phase kernel prunes the seed itself with
    decode-free lower/upper bounds; results stay bit-equal to the
    unseeded block path and the scored fraction drops BELOW HALF (the
    VERDICT r5 'done' bar is < 0.5 at 800k; this is the same shape at
    module scale)."""
    a = champ_fast.search(FIELDED, k=K, seed_min=8)
    b = champ_fast.search(FIELDED, k=K, seed_min=10_000,
                          use_champions=False)
    _same(a, b)
    frac = a.blocks_scored / max(a.blocks_total, 1)
    assert frac < 0.5, (
        f"fielded DisMax still decodes {a.blocks_scored}/{a.blocks_total}"
        f" = {frac:.1%} of blocks")


@pytest.mark.parametrize("k", [1, 3, 25])
def test_fielded_dismax_equality_across_k(champ_fast, k):
    a = champ_fast.search(FIELDED, k=k, seed_min=8)
    b = champ_fast.search(FIELDED, k=k, seed_min=10_000,
                          use_champions=False)
    _same(a, b)


def test_negative_boost_trees_stay_off_pruning_paths(champ_fast):
    """A negative Boost factor flips monotone upper bounds into lower
    bounds — both champion and block-max pruning would be wrong. Such
    trees (custom-scorer hook only) fail the champion gate and take the
    kernel's exhaustive path, which scores every candidate's blocks."""
    from cantine_spark.execution.wand import (
        champ_tree_ok, tree_has_negative_boost,
    )
    neg = Boost(Term("content", "def"), -1.0)
    mixed = Boolean(shoulds=(neg, HOT))
    assert not champ_tree_ok(neg) and not champ_tree_ok(mixed)
    assert tree_has_negative_boost(mixed)
    assert not tree_has_negative_boost(Boost(HOT, 0.5))
    for node in (neg, mixed):
        r = champ_fast.search(node, k=K, seed_min=8)
        assert not r.champion_served
        assert r.blocks_scored == r.blocks_total


def test_negative_boost_scored_exactly_on_kernel(reader, oracle):
    """End-to-end: a negative-boost tree through search_node returns the
    oracle's exact answer (lowest-scoring docs first under -1.0)."""
    from cantine_spark.api import SearchEngine

    from reference import assert_hits_match
    eng = SearchEngine(reader)
    neg = Boost(Term("content", "def"), -1.0)
    for node in (neg, Boolean(shoulds=(neg, Term("content", "return")))):
        assert_hits_match(eng.search_node(node, k=5), oracle.search(node, 5))


# ---- r6: deferred-leaf cascade (the flat-leaf q_dismax_fielded hole) ----


@pytest.fixture(scope="module")
def flat_leaf_fast(spark, tmp_path_factory):
    """An index whose shard geometry actually triggers leaf deferral: ONE
    shard spanning 1500 docs, so the df≈N `path` leaves own ~12 blocks
    with a flat tf-normalization profile (tail ≈ best block bound) — the
    800k-scale shape the small shared fixtures cannot reproduce."""
    d = str(tmp_path_factory.mktemp("flatleaf")) + "/index"
    corpus = with_doc_ids(generate_corpus(spark, 1500, partitions=4))
    build_index(spark, corpus, d)
    build_segments(spark, d, shard_span=1500)
    # champion coverage ≈ 40% of a hot term's shard postings — the regime
    # the span-proportional default (champion_cap) maintains at scale,
    # where the tail bound clears the tfnorm distribution's shoulder and
    # the cascade's survivor set stays small (measured at 800k: cap
    # span/6 → scored_frac 0.957 → 0.075, BENCH.md r6)
    reader = IndexReader(spark, d)
    avgdl = {f: s["avgdl"] for f, s in reader.stats.items()}
    from cantine_spark.build.champions import write_champions
    write_champions(spark, d, avgdl, 1500, cap=600)
    return FastTopK(IndexReader(spark, d), use_driver=False)


def test_cascade_defers_flat_leaves_losslessly(flat_leaf_fast):
    """The production fielded-DisMax shape on a deferral-triggering shard:
    bit-equal to the unseeded block path while decoding a strictly (and
    substantially) smaller share of blocks — the flat `path` leaves'
    blocks decode only for the post-interval-prune survivor set."""
    for k in (1, 5, 10, 25):
        a = flat_leaf_fast.search(FIELDED, k=k)
        b = flat_leaf_fast.search(FIELDED, k=k, use_champions=False)
        _same(a, b)
        assert a.blocks_scored < 0.6 * b.blocks_scored, (
            k, a.blocks_scored, b.blocks_scored)


def test_cascade_randomized_tree_fuzz(flat_leaf_fast):
    """Randomized Boolean/DisMax/Boost trees over hot+flat leaves: the
    cascade (whenever it engages) must stay bit-equal to the unseeded
    block path — top-k, totals, and scores."""
    import numpy as np

    rng = np.random.default_rng(76)
    hot = ["def", "return", "self", "import", "the"]
    flat = ["src", "py", "main"]

    def leaf():
        if rng.random() < 0.4:
            return Term("path", flat[int(rng.integers(len(flat)))])
        t = hot[int(rng.integers(len(hot)))]
        f = "path" if rng.random() < 0.3 else "content"
        node = Term(f, t)
        if rng.random() < 0.3:
            node = Boost(node, float(rng.uniform(0.2, 3.0)))
        return node

    def tree(depth=0):
        r = rng.random()
        if depth >= 2 or r < 0.35:
            return leaf()
        if r < 0.65:
            return DisMax(tuple(tree(depth + 1)
                                for _ in range(int(rng.integers(2, 4)))),
                          float(rng.uniform(0.0, 0.5)))
        n_m = int(rng.integers(0, 2))
        n_s = int(rng.integers(1, 3))
        return Boolean(musts=tuple(tree(depth + 1) for _ in range(n_m)),
                       shoulds=tuple(tree(depth + 1) for _ in range(n_s)))

    for trial in range(12):
        node = tree()
        k = int(rng.integers(1, 30))
        a = flat_leaf_fast.search(node, k=k)
        b = flat_leaf_fast.search(node, k=k, use_champions=False)
        assert (a.hits, a.total, a.visited) == (b.hits, b.total, b.visited), (
            trial, node)
