"""Logical query tree — the IR between the parser and the segment kernel.

Mirrors the tantivy query tree cantine assembles (Box<dyn Query> built at
cantine/src/main.rs:152-172 and tique/src/queryparser/parser.rs:158-233):
Term / Phrase / Boolean(must, should, must_not) / DisMax / Boost / All.
The kernel (execution/wand.py) evaluates each node as set algebra over
sorted doc-id arrays per shard: Must → intersect, Should → union, MustNot →
set difference, All → the shard's every doc, DisMax →
max+(sum-max)*tiebreaker.
"""

from __future__ import annotations

from dataclasses import dataclass, field


class QueryNode:
    """Base class. Nodes are frozen dataclasses → hashable, printable."""

    def scored(self) -> bool:
        """Does this node contribute a relevance score?"""
        return True


@dataclass(frozen=True)
class Term(QueryNode):
    field: str
    text: str  # already analyzed (lowercased token)


@dataclass(frozen=True)
class Phrase(QueryNode):
    field: str
    terms: tuple[str, ...]  # ≥2 analyzed tokens, in order

    def __post_init__(self):
        if len(self.terms) < 2:
            raise ValueError("Phrase needs ≥2 terms; 1 token degrades to Term "
                             "(parser.rs:339-345)")


@dataclass(frozen=True)
class All(QueryNode):
    """Match every document (tantivy AllQuery; main.rs:168)."""

    def scored(self) -> bool:
        return False


@dataclass(frozen=True)
class Boost(QueryNode):
    child: QueryNode
    factor: float  # multiplies the child's score (parser.rs:76-83)


@dataclass(frozen=True)
class DisMax(QueryNode):
    """score = max(children) + (sum - max) * tiebreaker
    (tique/src/dismax.rs:19-35; cantine uses tiebreaker=0.1, main.rs:156)."""
    children: tuple[QueryNode, ...]
    tiebreaker: float = 0.0


@dataclass(frozen=True)
class Boolean(QueryNode):
    """Must/Should/MustNot composition (parser.rs:158-208, main.rs:152-172).

    Semantics (tantivy BooleanQuery):
    - musts: every one matches; scores sum.
    - shoulds: if any musts exist, shoulds only add score; otherwise ≥1
      should must match.
    - must_nots: matching docs excluded (never contribute score).
    - all-negative queries get an implicit All() must (parser.rs:190-206).
    """
    musts: tuple[QueryNode, ...] = field(default=())
    shoulds: tuple[QueryNode, ...] = field(default=())
    must_nots: tuple[QueryNode, ...] = field(default=())


def simplify(node: QueryNode) -> QueryNode:
    """The reference's hard-coded rewrites (SURVEY §4 O1/O2):
    0 clauses → All, single-must Boolean → unwrap, pure-negative →
    implicit All must."""
    if isinstance(node, Boost):
        return Boost(simplify(node.child), node.factor)
    if isinstance(node, DisMax):
        kids = tuple(simplify(c) for c in node.children)
        return kids[0] if len(kids) == 1 else DisMax(kids, node.tiebreaker)
    if isinstance(node, Boolean):
        musts = tuple(simplify(c) for c in node.musts)
        shoulds = tuple(simplify(c) for c in node.shoulds)
        must_nots = tuple(simplify(c) for c in node.must_nots)
        if not musts and not shoulds and not must_nots:
            return All()
        if must_nots and not musts and not shoulds:
            # pure-negative completion (parser.rs:190-206)
            musts = (All(),)
        if len(musts) == 1 and not shoulds and not must_nots:
            return musts[0]
        if len(shoulds) == 1 and not musts and not must_nots:
            return shoulds[0]
        return Boolean(musts, shoulds, must_nots)
    return node
