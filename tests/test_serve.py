"""Serving layer: reader refresh with TIERED compaction (VERDICT r4 #1).

The reference's reader sees new segments after each commit without the
writer rewriting the index (cantine/src/main.rs:235; tantivy merges small
segments in the background). These tests pin the Spark analog's contract:

- a refresh builds ONE new tier from the new generations — O(delta): the
  new tier's doc count equals the delta and every surviving pre-existing
  tier directory is byte-untouched (manifest mtimes compared);
- the merge policy bounds tier count by folding the two smallest adjacent
  tiers (amortized — never the whole index);
- superseded dirs are deleted one swap later (no unbounded disk growth);
- at every step the served results equal a from-scratch full compaction.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from cantine_spark.api import SearchEngine
from cantine_spark.corpus import generate_corpus
from cantine_spark.index import IndexReader
from cantine_spark.serve import IndexServer
from cantine_spark.streaming import StreamingIndexer

N = 100
N_SLICES = 5


@pytest.fixture(scope="module")
def serve_env(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("serve")
    src = str(root / "incoming")
    os.makedirs(src)
    corpus = generate_corpus(spark, N, partitions=2)
    slices = [corpus.filter(
        F.crc32(F.concat("repo", "path")) % N_SLICES == i)
        for i in range(N_SLICES)]
    indexer = StreamingIndexer(spark, str(root / "index"))
    return indexer, slices, src, str(root / "ckpt"), str(root / "index")


def _dir_bytes(d: str) -> int:
    total = 0
    for base, _, files in os.walk(d):
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files)
    return total


def _tier_state(index_root: str) -> dict:
    with open(os.path.join(index_root, "tiers.json")) as f:
        return json.load(f)


def test_tiered_serving_lifecycle(spark, serve_env):
    indexer, slices, src, ckpt, index_root = serve_env

    # ---- generation 1 lands; the server opens it as tier 0
    slices[0].coalesce(1).write.mode("append").parquet(src)
    assert indexer.ingest_available(src, ckpt) == 1
    server = IndexServer(spark, index_root, max_tiers=3)
    r1 = server.search({"fulltext": "def", "num_items": 5})
    n1 = server.engine.reader.num_docs
    assert 0 < n1 < N and r1.total_found > 0

    # idle poll: no new generations → no swap, same engine object
    eng_before = server.engine
    assert server.maybe_refresh() is False
    assert server.engine is eng_before

    # ---- generations 2..3: each refresh appends ONE delta-sized tier and
    # leaves every pre-existing tier directory byte-untouched (O(delta))
    for step in (1, 2):
        st_before = _tier_state(index_root)
        mtimes = {t["dir"]: os.path.getmtime(
            os.path.join(index_root, t["dir"], "manifest.json"))
            for t in st_before["tiers"]}
        slices[step].coalesce(1).write.mode("append").parquet(src)
        assert indexer.ingest_available(src, ckpt) == 1
        delta = indexer._load_state()["generations"][-1]["n_docs"]
        assert server.maybe_refresh() is True
        st = _tier_state(index_root)
        assert len(st["tiers"]) == step + 1
        new_tier = st["tiers"][-1]
        assert new_tier["n_docs"] == delta
        for t in st["tiers"][:-1]:  # old tiers untouched on disk
            assert os.path.getmtime(os.path.join(
                index_root, t["dir"], "manifest.json")) == mtimes[t["dir"]]
        # the refresh wrote ≪ the total index: only the delta tier
        total_bytes = sum(_dir_bytes(os.path.join(index_root, t["dir"]))
                          for t in st["tiers"])
        assert _dir_bytes(os.path.join(
            index_root, new_tier["dir"])) < 0.6 * total_bytes
    assert server.engine.reader.num_docs == sum(
        g["n_docs"] for g in indexer._load_state()["generations"])
    # tiered sidecar resolved: one location per tier
    assert len(server.engine._fast._ff_dir) == len(
        server.engine.reader.tier_dirs)

    # ---- generation 4 exceeds max_tiers=3 → the merge policy folds the
    # two smallest adjacent tiers; superseded dirs land in trash
    slices[3].coalesce(1).write.mode("append").parquet(src)
    assert indexer.ingest_available(src, ckpt) == 1
    assert server.maybe_refresh() is True
    st = _tier_state(index_root)
    assert len(st["tiers"]) == 3
    assert len(st["trash"]) == 2  # the two merged-away tiers, deferred
    for d in st["trash"]:
        assert os.path.exists(os.path.join(index_root, d))

    # ---- generation 5: previous trash is deleted ONE swap later
    trash_before = list(st["trash"])
    slices[4].coalesce(1).write.mode("append").parquet(src)
    assert indexer.ingest_available(src, ckpt) == 1
    assert server.maybe_refresh() is True
    for d in trash_before:
        assert not os.path.exists(os.path.join(index_root, d))
    assert server.engine.reader.num_docs == N

    # ---- served results ≡ a from-scratch full compaction of the root
    span = _tier_state(index_root)["span"]
    full = indexer.compact(dest="full_check", shard_span=span)
    e_full = SearchEngine(IndexReader(spark, full))
    for q in ({"fulltext": "def", "num_items": 10},
              {"fulltext": "def", "num_items": 10, "sort": "num_tokens"},
              {"fulltext": "+def -import", "num_items": 10,
               "filter": {"num_lines": [5, 45]}}):
        a, b = server.search(dict(q)), e_full.search(dict(q))
        assert a.total_found == b.total_found
        assert [(i["doc_id"], i["score"]) for i in a.items] == \
               [(i["doc_id"], i["score"]) for i in b.items]

    # a bounded serve_forever loop is a no-op when nothing new arrives
    server.serve_forever(poll_seconds=0.01, max_iterations=2)
    assert server.engine.reader.num_docs == N


def test_stale_tier_state_is_rebuilt(spark, serve_env):
    """A reset-and-regrown root must not serve stale tiers (ADVICE r4):
    tiers.json entries whose covered generations disagree with the current
    generations.json are dropped and rebuilt."""
    indexer, slices, src, ckpt, index_root = serve_env
    st = _tier_state(index_root)
    st["tiers"][0] = dict(st["tiers"][0])
    # simulate a regrown root: claim tier 0 covers an epoch whose
    # first_doc_id no longer matches reality
    with open(os.path.join(index_root, "tiers.json"), "w") as f:
        bad = dict(st)
        bad_tier_dir = st["tiers"][0]["dir"]
        json.dump(bad, f)
    mpath = os.path.join(index_root, bad_tier_dir, "manifest.json")
    with open(mpath) as f:
        man = json.load(f)
    man["generations"][0]["first_doc_id"] += 7
    with open(mpath, "w") as f:
        json.dump(man, f)
    server = IndexServer(spark, index_root, max_tiers=3)
    st2 = _tier_state(index_root)
    # state was rejected and rebuilt from the real generations
    assert all(t["dir"] != bad_tier_dir for t in st2["tiers"])
    assert server.engine.reader.num_docs == N


def test_cli_serve_smoke(spark, serve_env, capsys):
    """`cantine_submit serve` opens the root and runs a bounded poll loop
    (the daemon shape, minus the daemon)."""
    import sys

    sys.path.insert(0, "/root/repo/scripts")
    try:
        import cantine_submit
    finally:
        sys.path.pop(0)
    *_, index_root = serve_env
    rc = cantine_submit.main(["--local", "4", "serve",
                              "--index-root", index_root,
                              "--max-polls", "1", "--poll", "0.01"])
    assert rc == 0
    first = capsys.readouterr().out.strip().splitlines()[0]
    assert json.loads(first)["n_docs"] == N
