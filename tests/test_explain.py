"""Score explanation surface (VERDICT r5 'what's missing' #1): the
tantivy Explanation analog (tique/src/dismax.rs:308-358). explain=True
searches attach a per-hit breakdown tree whose root value is f32-equal to
the reported score, with per-term idf/tf/dl/tfnorm contributions — across
every production query shape, match-all and pure-negative ones included."""

from __future__ import annotations

import numpy as np
import pytest

from cantine_spark.api import SearchEngine

QUERIES = [
    {"fulltext": "def", "num_items": 5},
    {"fulltext": "def return", "num_items": 5},
    {"fulltext": "path:src def return", "num_items": 5},
    {"fulltext": "+def -import", "num_items": 5},
    {"fulltext": '"permission is hereby granted"', "num_items": 5},
    {"fulltext": "def", "sort": "num_lines", "num_items": 5},
    {"fulltext": "def", "filter": {"num_lines": [5, 60]}, "num_items": 5},
    {"fulltext": "-def", "num_items": 5},
]


@pytest.fixture(scope="module")
def engine(reader):
    return SearchEngine(reader)


def _leaf_values(node: dict) -> list[float]:
    t = node["type"]
    if t in ("term", "phrase", "all"):
        return [node["value"]]
    if t == "boost":
        return _leaf_values(node["child"])
    if t == "dismax":
        return [v for c in node["children"] for v in _leaf_values(c)]
    if t == "boolean":
        return [v for c in (*node["musts"], *node["shoulds"])
                for v in _leaf_values(c)]
    raise AssertionError(t)


@pytest.mark.parametrize("q", QUERIES, ids=lambda q: q["fulltext"][:24])
def test_explanation_root_value_is_f32_equal_to_score(engine, q):
    res = engine.search(dict(q), explain=True)
    assert res.items
    for it in res.items:
        ex = it["explanation"]
        assert np.float32(ex["value"]) == np.float32(it["score"]), (
            q, it["doc_id"], ex)
        assert _leaf_values(ex), "no leaves in explanation"


def test_term_explanation_carries_bm25_inputs(engine, reader):
    [it] = engine.search({"fulltext": "uniqterm00000042",
                          "num_items": 1}, explain=True).items
    ex = it["explanation"]
    # single-term fulltext expands to a 2-field DisMax; the content leaf
    # must carry the full BM25 input set and reproduce idf·tfnorm
    node = ex
    while node["type"] in ("dismax", "boost", "boolean"):
        kids = (node.get("children") or [node.get("child")]
                or node["shoulds"])
        node = max((k for k in kids if k), key=lambda k: k["value"])
    assert node["type"] == "term" and node["matched"]
    assert node["value"] == pytest.approx(node["idf"] * node["tfnorm"])
    assert node["tf"] >= 1 and node["dl"] >= 1


def test_unmatched_leaf_is_zero_and_flagged(engine):
    res = engine.search({"fulltext": "def zzznotindexed",
                         "num_items": 3}, explain=True)
    for it in res.items:
        leaves = []

        def walk(n):
            if n["type"] == "term":
                leaves.append(n)
            for c in (n.get("children") or []) + (n.get("musts") or []) \
                    + (n.get("shoulds") or []):
                walk(c)
            if n.get("child"):
                walk(n["child"])

        walk(it["explanation"])
        ghost = [l for l in leaves if l["term"] == "zzznotindexed"]
        assert ghost and all(not g["matched"] and g["value"] == 0.0
                             for g in ghost)


def test_phrase_explanation_counts_occurrences(engine):
    res = engine.search({"fulltext": '"permission is hereby granted"',
                         "num_items": 3}, explain=True)
    assert res.items
    for it in res.items:
        ex = it["explanation"]
        node = ex
        while node["type"] in ("dismax", "boost", "boolean"):
            kids = (node.get("children") or node.get("shoulds")
                    or [node.get("child")])
            node = max((k for k in kids if k), key=lambda k: k["value"])
        assert node["type"] == "phrase" and node["matched"]
        assert node["phrase_tf"] >= 1
        assert np.float32(ex["value"]) == np.float32(it["score"])


def test_match_all_explanation_is_zero(engine):
    res = engine.search({"filter": {"num_lines": [5, 60]}, "num_items": 3},
                        explain=True)
    assert res.items
    for it in res.items:
        assert it["explanation"] == {"type": "all", "value": 0.0}
        assert it["score"] == 0.0


def test_explain_costs_no_spark_job_on_serving_path(engine, monkeypatch):
    """The breakdown must come from driver point reads of the winners'
    segment blocks — no extra Spark job, and only the winners' shards."""
    from cantine_spark.execution import driverexec

    q = {"fulltext": "def return", "num_items": 3}
    engine.search(dict(q), explain=True)  # warm term-df cache

    sc = engine.reader.spark.sparkContext
    jobs_before = sc.statusTracker().getJobIdsForGroup(None)
    shards_read = []
    orig = driverexec.read_rows

    def spy(spec, terms, columns, shards=None):
        if "positions" in columns and shards is not None:
            shards_read.append(set(shards))
        return orig(spec, terms, columns, shards=shards)

    monkeypatch.setattr(driverexec, "read_rows", spy)
    res = engine.search(dict(q), explain=True)
    assert res.items
    assert sc.statusTracker().getJobIdsForGroup(None) == jobs_before
    span = engine.reader.segments_meta()["shard_span"]
    assert shards_read == [{i["doc_id"] // span for i in res.items}]
