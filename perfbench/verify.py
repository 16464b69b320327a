"""Untimed correctness checks of the answers a run received.

Relevance answers (page 1, no filter, sort or aggregation) are compared
once per distinct query with the package's pure-Python BM25 oracle: totals
equal, doc ids rank-identical up to exact score ties, scores equal at f32
resolution. Other shapes are checked against invariants computed from the
benchmark's own corpus:

- filtered items lie inside the half-open filter range;
- sorted items are monotonic and carry the document's feature value;
- aggregation bucket counts add up to the filtered total;
- page 2 is disjoint from page 1 and reports the same total.
"""

from __future__ import annotations

import json

import numpy as np
import pandas as pd

from cantine_spark.analysis import tokenize_text
from cantine_spark.oracle import OracleIndex
from cantine_spark.plans.nodes import Boolean, Boost, DisMax, Phrase, Term

TEXT_FIELDS = ("content", "path")


def _terms(node, out: set) -> None:
    if isinstance(node, Term):
        out.add((node.field, node.text))
    elif isinstance(node, Phrase):
        out.update((node.field, t) for t in node.terms)
    elif isinstance(node, Boost):
        _terms(node.child, out)
    elif isinstance(node, DisMax):
        for c in node.children:
            _terms(c, out)
    elif isinstance(node, Boolean):
        for c in (*node.musts, *node.shoulds, *node.must_nots):
            _terms(c, out)


class Oracle:
    """OracleIndex over the corpus, holding postings only for the terms
    the checked queries use (the scoring statistics — doc lengths, avgdl,
    df — are those of the whole corpus)."""

    def __init__(self, corpus: pd.DataFrame) -> None:
        self.doc_ids = corpus["doc_id"].tolist()
        self.tokens = {f: [tokenize_text(t or "") for t in corpus[f]]
                       for f in TEXT_FIELDS}
        self.num_lines = {int(d): c.count("\n") + 1
                          for d, c in zip(corpus["doc_id"], corpus["content"])}

    def index(self, terms: set) -> OracleIndex:
        by_field: dict[str, set] = {f: set() for f in TEXT_FIELDS}
        for f, t in terms:
            by_field[f].add(t)
        tfs = {f: {} for f in TEXT_FIELDS}
        pos = {f: {} for f in TEXT_FIELDS}
        dl = {f: {} for f in TEXT_FIELDS}
        for f in TEXT_FIELDS:
            want = by_field[f]
            for d, toks in zip(self.doc_ids, self.tokens[f]):
                dl[f][d] = len(toks)
                if not want:
                    continue
                for p, t in enumerate(toks):
                    if t in want:
                        tfs[f].setdefault(t, {}).setdefault(d, 0)
                        tfs[f][t][d] += 1
                        pos[f].setdefault(t, {}).setdefault(d, []).append(p)
        n = len(self.doc_ids)
        avgdl = {f: sum(dl[f].values()) / n for f in TEXT_FIELDS}
        return OracleIndex(n, list(TEXT_FIELDS), tfs, pos, dl, avgdl,
                           list(self.doc_ids))


def _same_ranking(total: int, items: list[dict], o_total: int,
                  o_hits: list[tuple[int, float]]) -> str:
    if total != o_total:
        return f"total {total} != oracle {o_total}"
    if len(items) != len(o_hits):
        return f"{len(items)} items != oracle {len(o_hits)}"
    es = np.array([it["score"] for it in items], dtype=np.float64)
    os_ = np.array([s for _, s in o_hits], dtype=np.float64)
    if not np.allclose(es, os_, rtol=1e-6, atol=1e-9):
        return "scores differ from oracle"
    i = 0
    while i < len(o_hits):           # rank-identical up to exact ties
        j = i
        while j < len(o_hits) and np.isclose(o_hits[j][1], o_hits[i][1],
                                             rtol=1e-7, atol=1e-9):
            j += 1
        if ({it["doc_id"] for it in items[i:j]}
                != {d for d, _ in o_hits[i:j]}):
            return f"ranks {i}:{j} differ from oracle"
        i = j
    return ""


def _in_range(v: int, rng: list) -> bool:
    return rng[0] <= v < rng[1]


def check(outcomes: list, corpus: pd.DataFrame, engine) -> list[str]:
    """Return one message per failed operation (empty list: all correct).
    `outcomes` are load.Outcome objects; a page-2 outcome links its page-1
    answer through `parent_outcome`."""
    from cantine_spark.api import SearchQuery

    oracle = Oracle(corpus)
    failures: list[str] = []
    relevance: dict[str, tuple] = {}
    for o in outcomes:
        label = f"{o.kind} {json.dumps(o.query)[:120]}"
        if o.status != 200 or o.payload is None:
            failures.append(f"{label}: status {o.status} {o.error}")
            continue
        q, res = o.query, o.payload
        items = res.get("items") or []
        total = int(res.get("total_found", -1))
        msg = ""
        if "filter" in q:
            rng = q["filter"]["num_lines"]
            if not all(_in_range(oracle.num_lines[it["doc_id"]], rng)
                       for it in items):
                msg = "item outside filter range"
        if not msg and q.get("sort") not in (None, "relevance"):
            vals = [it["sort_val"] for it in items]
            if vals != [oracle.num_lines[it["doc_id"]] for it in items]:
                msg = "sort value differs from the document's feature"
            elif vals != sorted(vals, reverse=not q.get("ascending")):
                msg = "sorted items not monotonic"
        if not msg and "agg" in q:
            counts = [b["count"] for b in (res.get("agg") or {}).get("num_lines", [])]
            if len(counts) != len(q["agg"]["num_lines"]) or sum(counts) != total:
                msg = f"agg counts {counts} do not add up to total {total}"
        if not msg and o.parent_outcome is not None:
            first = o.parent_outcome.payload
            seen = {it["doc_id"] for it in first["items"]}
            if seen & {it["doc_id"] for it in items}:
                msg = "page 2 overlaps page 1"
            elif total != first["total_found"]:
                msg = "page 2 total differs from page 1"
        if not msg and not ({"filter", "agg", "after"} & set(q)) \
                and q.get("sort") in (None, "relevance"):
            key = json.dumps(q, sort_keys=True)
            if key not in relevance:
                relevance[key] = (q, total, items, [])
            relevance[key][3].append(label)
        if msg:
            failures.append(f"{label}: {msg}")

    nodes = {}
    for key, (q, _, _, _) in relevance.items():
        sq = SearchQuery.from_dict(q, features=engine.features)
        nodes[key] = engine.interpret(sq)[0]
    terms: set = set()
    for node in nodes.values():
        _terms(node, terms)
    index = oracle.index(terms)
    for key, (q, total, items, labels) in relevance.items():
        k = q.get("num_items") or 10
        o_total, o_hits = index.search(nodes[key], k)
        msg = _same_ranking(total, items, o_total, o_hits)
        if msg:  # every answer to this query counts as failed
            failures.extend(f"{label}: {msg}" for label in labels)
    return failures
