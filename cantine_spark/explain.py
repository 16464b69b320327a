"""Per-hit score explanations — the tantivy `Explanation` analog.

The reference exposes per-hit score breakdowns for relevance debugging
(tique/src/dismax.rs:308-358 asserts DisMax explanations; tantivy's
`Query::explain` walks the scorer tree). A user tuning field boosts or
the DisMax tiebreaker needs to see WHERE a hit's score came from:
per-term idf / tf / dl / tfnorm, and how the tree combined them.

`explain_hits` reconstructs the exact f64 scoring arithmetic for the ≤255
returned winners, driver-side: the (tf, dl, positions) of each query term
for just those docs are point-read from the bucket-pruned postings table
with pyarrow (the same point-read family as winner hydration — no Spark
job), falling back to a pruned Spark scan. The tree evaluation reuses
scoring.py's idf/tfnorm expressions and the kernel's combiners, so the
root `value` cast to f32 EQUALS the hit's reported score bit-for-bit
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


def _postings_driver(reader, fts: set, ids: list[int]) -> dict:
    """{(field, term): {doc_id: (tf, dl, positions_int32)}} for the winner
    ids — pyarrow point reads of the bucket=K postings dirs (one dir per
    tier for tiered readers; a doc lives in exactly one tier)."""
    import pyarrow.dataset as pads

    from cantine_spark import fsutil
    from cantine_spark.build.builder import N_BUCKETS
    from cantine_spark.functions.xxhash import bucket_of

    roots = reader.postings_dirs()
    for d in roots:
        if not fsutil.is_dir(d):
            raise FileNotFoundError(d)
    want = sorted({int(i) for i in ids})
    out: dict = {ft: {} for ft in fts}
    for f_, t_ in fts:
        b = bucket_of(f_, t_, N_BUCKETS)
        expr = ((pads.field("field") == f_) & (pads.field("term") == t_)
                & pads.field("doc_id").isin(want))
        for d in roots:
            files = fsutil.list_parquet(fsutil.join(d, f"bucket={b}"))
            if not files:
                continue
            tbl = pads.dataset([p for _, p in files], format="parquet",
                               filesystem=files[0][0]).to_table(
                columns=["doc_id", "tf", "dl", "positions"], filter=expr)
            for r in tbl.to_pylist():
                out[(f_, t_)][int(r["doc_id"])] = (
                    int(r["tf"]), int(r["dl"]),
                    np.frombuffer(r["positions"] or b"", dtype="<i4"))
    return out


def _postings_spark(executor, fts: set, ids: list[int]) -> dict:
    from pyspark.sql import functions as F
    want = [int(i) for i in ids]
    out: dict = {ft: {} for ft in fts}
    for f_, t_ in fts:
        rows = (executor._postings_for(f_, t_)
                .filter(F.col("doc_id").isin(want))
                .select("doc_id", "tf", "dl", "positions").collect())
        for r in rows:
            out[(f_, t_)][int(r["doc_id"])] = (
                int(r["tf"]), int(r["dl"]),
                np.frombuffer(r["positions"] or b"", dtype="<i4"))
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
                 for m in node.musts if not isinstance(m, All)]
        shoulds = [_explain_node(s, doc_id, post, idfs, stats)
                   for s in node.shoulds]
        return {"type": "boolean", "musts": musts, "shoulds": shoulds,
                "value": float(sum(k["value"] for k in (*musts, *shoulds)))}
    raise TypeError(f"cannot explain {node!r}")


def explain_hits(reader, executor, node: QueryNode,
                 doc_ids: list[int]) -> dict[int, dict]:
    """doc_id → explanation tree for the given (already-returned) hits.
    The root `value` is the hit's f64 relevance score; f32(value) equals
    the reported score exactly (same arithmetic as the kernel and the
    relational executor)."""
    if not doc_ids:
        return {}
    fts: set = set()
    _collect_fts(node, fts)
    dfs = executor.term_dfs(fts) if fts else {}
    stats = reader.stats
    idfs = {ft: idf_fn(dfs[ft], stats[ft[0]]["n_docs"])
            for ft in fts if dfs.get(ft, 0) > 0}
    if fts:
        try:
            post = _postings_driver(reader, fts, doc_ids)
        except Exception:  # noqa: BLE001 — any driver-read issue → Spark
            driverexec.note_fallback("explain postings read")
            post = _postings_spark(executor, fts, doc_ids)
    else:
        post = {}
    return {int(d): _explain_node(node, int(d), post, idfs, stats)
            for d in doc_ids}
