"""Per-hit score explanations — the tantivy `Explanation` analog.

The reference exposes per-hit score breakdowns for relevance debugging
(tique/src/dismax.rs:308-358 asserts DisMax explanations; tantivy's
`Query::explain` walks the scorer tree). A user tuning field boosts or
the DisMax tiebreaker needs to see WHERE a hit's score came from:
per-term idf / tf / dl / tfnorm, and how the tree combined them.

`explain_hits` reconstructs the exact f64 scoring arithmetic for the ≤255
returned winners, driver-side: the (tf, dl, positions) of each query term
for just those docs come from the segment blocks holding them, point-read
with driverexec.read_rows (the kernel's own reader, restricted to the
winners' shards — no Spark job) and decoded per block. The tree evaluation
reuses scoring.py's idf/tfnorm expressions and the kernel's combiners, so
the root `value` cast to f32 EQUALS the hit's reported score bit-for-bit
(pinned in tests/test_explain.py).

Explanation node shape (JSON-ready):
  Term    {type, field, term, matched, idf, tf, dl, tfnorm, value}
  Phrase  {type, field, terms, matched, idf_sum, phrase_tf, dl, value}
  Boost   {type, factor, child, value}
  DisMax  {type, tiebreaker, children, value}   (max + tb·(sum−max))
  Boolean {type, musts, shoulds, value}         (must_nots never score)
  All     {type, value: 0.0}
"""

from __future__ import annotations

import numpy as np

from cantine_spark.execution import driverexec
from cantine_spark.execution.scoring import B, K1
from cantine_spark.execution.scoring import idf as idf_fn
from cantine_spark.plans.nodes import (
    All, Boolean, Boost, DisMax, Phrase, QueryNode, Term,
)


def _tfnorm(tf: float, dl: float, avgdl: float) -> float:
    return tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))


def _collect_fts(node: QueryNode, out: set) -> None:
    if isinstance(node, Term):
        out.add((node.field, node.text))
    elif isinstance(node, Phrase):
        out.update((node.field, t) for t in node.terms)
    elif isinstance(node, Boost):
        _collect_fts(node.child, out)
    elif isinstance(node, DisMax):
        for c in node.children:
            _collect_fts(c, out)
    elif isinstance(node, Boolean):
        # must_nots never score, but their postings aren't needed either:
        # the engine already excluded their docs from the hits
        for c in (*node.musts, *node.shoulds):
            _collect_fts(c, out)


def _winner_postings(reader, fts: set, ids: list[int]) -> dict:
    """{(field, term): {doc_id: (tf, dl, positions_int32)}} for the winner
    ids, decoded from the segment blocks of the terms in the winners'
    shards (a doc lives in one block per term; tiers hold disjoint docs)."""
    from cantine_spark.build.merge import decode_block

    span = int(reader.segments_meta()["shard_span"])
    want = np.array(sorted({int(i) for i in ids}), dtype=np.int64)
    rows = driverexec.read_rows(
        reader.segment_point_spec(), fts,
        driverexec.SEG_COLUMNS + ("positions",),
        shards={int(d) // span for d in want})
    out: dict = {ft: {} for ft in fts}
    for row in rows.itertuples(index=False):
        docs, tfs, dls, pos = decode_block(row)
        hit = np.flatnonzero(np.isin(docs, want))
        for j in hit:
            out[(row.field, row.term)][int(docs[j])] = (
                int(tfs[j]), int(dls[j]), np.frombuffer(pos[j], dtype="<i4"))
    return out


def _explain_node(node: QueryNode, doc_id: int, post: dict,
                  idfs: dict, stats: dict) -> dict:
    if isinstance(node, All):
        return {"type": "all", "value": 0.0}
    if isinstance(node, Term):
        ft = (node.field, node.text)
        hit = post.get(ft, {}).get(doc_id)
        if hit is None or ft not in idfs:
            return {"type": "term", "field": node.field, "term": node.text,
                    "matched": False, "value": 0.0}
        tf, dl, _pos = hit
        avgdl = stats[node.field]["avgdl"]
        tfn = _tfnorm(float(tf), float(dl), avgdl)
        return {"type": "term", "field": node.field, "term": node.text,
                "matched": True, "idf": idfs[ft], "tf": tf, "dl": dl,
                "tfnorm": tfn, "value": idfs[ft] * tfn}
    if isinstance(node, Phrase):
        fts = [(node.field, t) for t in node.terms]
        hits = [post.get(ft, {}).get(doc_id) for ft in fts]
        base = {"type": "phrase", "field": node.field,
                "terms": list(node.terms)}
        if any(h is None for h in hits) or any(ft not in idfs for ft in fts):
            return {**base, "matched": False, "value": 0.0}
        pos0 = hits[0][2]
        ptf = 0
        psets = [set(h[2].tolist()) for h in hits[1:]]
        for p in pos0.tolist():
            if all((p + i + 1) in s for i, s in enumerate(psets)):
                ptf += 1
        if ptf == 0:
            return {**base, "matched": False, "value": 0.0}
        dl = float(hits[0][1])
        avgdl = stats[node.field]["avgdl"]
        idf_sum = float(sum(idfs[ft] for ft in fts))
        val = idf_sum * _tfnorm(float(ptf), dl, avgdl)
        return {**base, "matched": True, "idf_sum": idf_sum,
                "phrase_tf": ptf, "dl": dl, "value": val}
    if isinstance(node, Boost):
        child = _explain_node(node.child, doc_id, post, idfs, stats)
        return {"type": "boost", "factor": node.factor, "child": child,
                "value": child["value"] * node.factor}
    if isinstance(node, DisMax):
        kids = [_explain_node(c, doc_id, post, idfs, stats)
                for c in node.children]
        vals = [k["value"] for k in kids]
        mx = max(vals) if vals else 0.0
        sm = sum(vals)
        return {"type": "dismax", "tiebreaker": node.tiebreaker,
                "children": kids, "value": mx + (sm - mx) * node.tiebreaker}
    if isinstance(node, Boolean):
        musts = [_explain_node(m, doc_id, post, idfs, stats)
                 for m in node.musts]
        shoulds = [_explain_node(s, doc_id, post, idfs, stats)
                   for s in node.shoulds]
        return {"type": "boolean", "musts": musts, "shoulds": shoulds,
                "value": float(sum(k["value"] for k in (*musts, *shoulds)))}
    raise TypeError(f"cannot explain {node!r}")


def explain_hits(reader, executor, node: QueryNode,
                 doc_ids: list[int]) -> dict[int, dict]:
    """doc_id → explanation tree for the given (already-returned) hits.
    The root `value` is the hit's f64 relevance score; f32(value) equals
    the reported score exactly (same arithmetic as the kernel)."""
    if not doc_ids:
        return {}
    fts: set = set()
    _collect_fts(node, fts)
    dfs = executor.term_dfs(fts) if fts else {}
    stats = reader.stats
    idfs = {ft: idf_fn(dfs[ft], stats[ft[0]]["n_docs"])
            for ft in fts if dfs.get(ft, 0) > 0}
    post = _winner_postings(reader, fts, doc_ids) if fts else {}
    return {int(d): _explain_node(node, int(d), post, idfs, stats)
            for d in doc_ids}
