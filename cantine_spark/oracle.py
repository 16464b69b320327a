"""Pure pandas/numpy BM25 oracle — the engine's ground truth.

Replaces cantine's offline-corpus golden data (the production recipe data is
unavailable, cantine/README.markdown:5-6) with an exact, independent,
single-process implementation of the same semantics:

- same analyzer (shared tokenize_text — index/query tokenizer identity is
  itself part of the contract, tique/src/queryparser/parser.rs:63),
- exact BM25 (k1=1.2, b=0.75, idf = ln(1+(N-df+0.5)/(df+0.5)),
  tique/src/topterms.rs:77-81), float64 math, final score cast to float32
  exactly like the engine (tantivy Score = f32),
- tie-break: score desc → doc_id asc (tique topk.rs:191-203),
- tantivy boolean semantics: musts all match & sum; shoulds add score (or
  drive matching when no musts); must_nots exclude,
- DisMax: max + (sum-max)*tiebreaker (tique/src/dismax.rs:19-35),
- phrase: all terms adjacent in order; tf = occurrence count; idf = Σ term idf.

The segment kernel (cantine_spark/execution/wand.py) — the engine's one
query path — shares NONE of this code: it scores compressed block-max
segments with pruning; agreement between the two is the correctness gate
(SURVEY §5).
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from cantine_spark.analysis import tokenize_text
from cantine_spark.execution.scoring import B, K1
from cantine_spark.plans.nodes import (
    All, Boolean, Boost, DisMax, Phrase, QueryNode, Term, simplify,
)


def idf(df: int, n: int) -> float:
    return float(np.log(1.0 + (n - df + 0.5) / (df + 0.5)))


@dataclass
class OracleIndex:
    """In-memory inverted index over a pandas corpus."""
    n_docs: int
    fields: list[str]
    # per field: {term: {doc_id: tf}}, {term: {doc_id: [positions]}}
    tfs: dict[str, dict[str, dict[int, int]]]
    pos: dict[str, dict[str, dict[int, list[int]]]]
    dl: dict[str, dict[int, int]]          # field -> doc -> length
    avgdl: dict[str, float]
    doc_ids: list[int] = field(default_factory=list)

    @classmethod
    def build(cls, corpus: pd.DataFrame, fields: list[str]) -> OracleIndex:
        """corpus: pandas frame with doc_id + the text field columns."""
        tfs: dict = {f: {} for f in fields}
        pos: dict = {f: {} for f in fields}
        dl: dict = {f: {} for f in fields}
        doc_ids = [int(d) for d in corpus["doc_id"]]
        for _, row in corpus.iterrows():
            d = int(row["doc_id"])
            for f in fields:
                toks = tokenize_text(row[f] or "")
                dl[f][d] = len(toks)
                for p, t in enumerate(toks):
                    tfs[f].setdefault(t, {}).setdefault(d, 0)
                    tfs[f][t][d] += 1
                    pos[f].setdefault(t, {}).setdefault(d, []).append(p)
        n = len(corpus)
        avgdl = {f: (sum(dl[f].values()) / n if n else 0.0) for f in fields}
        return cls(n, fields, tfs, pos, dl, avgdl, doc_ids)

    # ----------------------------------------------------------- primitives
    def term_scores(self, fld: str, term: str) -> dict[int, float]:
        postings = self.tfs[fld].get(term, {})
        if not postings:
            return {}
        w = idf(len(postings), self.n_docs)
        out = {}
        for d, tf in postings.items():
            dl = self.dl[fld][d]
            out[d] = w * (tf * (K1 + 1.0)) / (tf + K1 * (1 - B + B * dl / self.avgdl[fld]))
        return out

    def phrase_scores(self, fld: str, terms: tuple[str, ...]) -> dict[int, float]:
        postings = [self.pos[fld].get(t) for t in terms]
        if any(p is None for p in postings):
            return {}
        docs = set(postings[0])
        for p in postings[1:]:
            docs &= set(p)
        idf_sum = sum(idf(len(self.tfs[fld][t]), self.n_docs) for t in terms)
        out = {}
        for d in docs:
            starts = set(postings[0][d])
            for i, p in enumerate(postings[1:], start=1):
                starts &= {x - i for x in p[d]}
            ptf = len(starts)
            if ptf > 0:
                dl = self.dl[fld][d]
                out[d] = idf_sum * (ptf * (K1 + 1.0)) / (
                    ptf + K1 * (1 - B + B * dl / self.avgdl[fld]))
        return out

    # ------------------------------------------------------------- evaluate
    def evaluate(self, node: QueryNode) -> dict[int, float] | None:
        """doc_id → float64 score for matching docs; None = matches nothing."""
        node = simplify(node)
        if isinstance(node, All):
            return {d: 0.0 for d in self.doc_ids}
        if isinstance(node, Term):
            s = self.term_scores(node.field, node.text)
            return s or None
        if isinstance(node, Phrase):
            s = self.phrase_scores(node.field, node.terms)
            return s or None
        if isinstance(node, Boost):
            child = self.evaluate(node.child)
            if child is None:
                return None
            return {d: s * node.factor for d, s in child.items()}
        if isinstance(node, DisMax):
            kids = [self.evaluate(c) for c in node.children]
            kids = [k for k in kids if k is not None]
            if not kids:
                return None
            per_doc: dict[int, list[float]] = {}
            for k in kids:
                for d, s in k.items():
                    per_doc.setdefault(d, []).append(s)
            return {d: max(ss) + (sum(ss) - max(ss)) * node.tiebreaker
                    for d, ss in per_doc.items()}
        if isinstance(node, Boolean):
            real_musts = [m for m in node.musts if not isinstance(m, All)]
            has_all = any(isinstance(m, All) for m in node.musts)
            base: dict[int, float] | None = None
            for m in real_musts:
                f = self.evaluate(m)
                if f is None:
                    return None
                if base is None:
                    base = dict(f)
                else:
                    base = {d: base[d] + f[d] for d in base.keys() & f.keys()}
            if base is None and has_all:
                base = {d: 0.0 for d in self.doc_ids}
            shoulds = [self.evaluate(s) for s in node.shoulds]
            shoulds = [s for s in shoulds if s is not None]
            if shoulds:
                acc: dict[int, float] = Counter()
                for s in shoulds:
                    for d, v in s.items():
                        acc[d] = acc.get(d, 0.0) + v
                if base is not None:
                    base = {d: sc + acc.get(d, 0.0) for d, sc in base.items()}
                else:
                    base = dict(acc)
            if base is None:
                return None
            for mn in node.must_nots:
                f = self.evaluate(mn)
                if f:
                    base = {d: s for d, s in base.items() if d not in f}
            return base
        raise TypeError(node)

    def search(self, node: QueryNode, k: int = 10,
               ascending: bool = False) -> tuple[int, list[tuple[int, float]]]:
        """(total, [(doc_id, f32 score)]) — top-k with tantivy tie-break."""
        scores = self.evaluate(node)
        if not scores:
            return 0, []
        f32 = {d: float(np.float32(s)) for d, s in scores.items()}
        sgn = 1 if ascending else -1
        ranked = sorted(f32.items(), key=lambda kv: (sgn * kv[1], kv[0]))
        return len(f32), ranked[:k]
