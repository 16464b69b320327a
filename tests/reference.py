"""Reference answers for SearchEngine queries: the pure-pandas BM25 oracle
(cantine_spark/oracle.py) for matching and scores, plus pandas over docmeta
for filter, sort, pagination and aggregation semantics:

- filters are half-open [lo, hi) ranges that never match a null value;
- a field sort fills missing values with 0 (tantivy's val_if_missing);
- ties break by doc_id ascending in both directions (tique topk.rs);
- a page after (value, doc_id) holds the docs strictly past it in sort
  order (PaginationCondition, cantine/src/index.rs:286-295);
- an empty agg bucket is inverted-seeded: min = hi, max = lo, count 0
  (cantine_derive/src/lib.rs:62-73).

Shares no code with the segment kernel it checks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from cantine_spark.aggregate import RangeStats
from cantine_spark.oracle import OracleIndex


class Reference:
    def __init__(self, oracle: OracleIndex, docmeta: pd.DataFrame,
                 features: dict):
        self.oracle = oracle
        self.meta = docmeta.set_index("doc_id").sort_index()
        self.features = features

    @classmethod
    def of(cls, reader, oracle: OracleIndex) -> "Reference":
        return cls(oracle, reader.docmeta.toPandas(), reader.features)

    def matches(self, node, filters: dict | None = None) -> pd.DataFrame:
        """Matching docs after the range filters: doc_id index, f32 score."""
        scores = self.oracle.evaluate(node) or {}
        ids = np.array(sorted(scores), dtype=np.int64)
        out = pd.DataFrame(
            {"score": np.array([scores[d] for d in ids], np.float64)
             .astype(np.float32).astype(np.float64)},
            index=pd.Index(ids, name="doc_id"))
        for feat, (lo, hi) in (filters or {}).items():
            v = self.meta[feat].reindex(out.index)
            out = out[v.notna() & (v >= lo) & (v < hi)]
        return out

    def search(self, node, filters: dict | None = None, k: int = 10,
               sort: str | None = None, ascending: bool = False,
               after: tuple | None = None, agg: dict | None = None) -> dict:
        """{total, visited, items: [(doc_id, score, sort_val)], agg}."""
        m = self.matches(node, filters)
        if sort in (None, "relevance"):
            sv = m["score"]
        else:
            sv = self.meta[sort].reindex(m.index).fillna(0)
            if self.features[sort].kind == "u64":
                sv = sv.astype(np.int64)
        ranked = pd.DataFrame({"doc_id": m.index.to_numpy(),
                               "score": m["score"].to_numpy(),
                               "sort_val": sv.to_numpy()})
        if after is not None:
            v, d = after
            past = (ranked["sort_val"] > v) if ascending else (
                ranked["sort_val"] < v)
            ranked = ranked[past | ((ranked["sort_val"] == v)
                                    & (ranked["doc_id"] > d))]
        ranked = ranked.sort_values(["sort_val", "doc_id"],
                                    ascending=[ascending, True])
        items = [(int(d), float(s), v) for d, s, v in
                 ranked.head(k).itertuples(index=False)]
        out_agg = None
        if agg:
            out_agg = {}
            for feat, ranges in agg.items():
                vals = self.meta[feat].reindex(m.index).dropna()
                kind = self.features[feat].kind
                stats = []
                for lo, hi in ranges:
                    b = vals[(vals >= lo) & (vals < hi)]
                    if not len(b):
                        stats.append(RangeStats(min=hi, max=lo, count=0))
                    elif kind == "u64":
                        stats.append(RangeStats(min=int(b.min()),
                                                max=int(b.max()),
                                                count=len(b)))
                    else:
                        stats.append(RangeStats(min=float(b.min()),
                                                max=float(b.max()),
                                                count=len(b)))
                out_agg[feat] = stats
        return {"total": len(m), "visited": len(ranked), "items": items,
                "agg": out_agg}

    def query(self, engine, q: dict, after: tuple | None = None) -> dict:
        """search() for a SearchEngine dict query (the engine's parser
        builds the tree; the cursor is given as (sort value, doc_id))."""
        from cantine_spark.api import SearchQuery
        sq = SearchQuery.from_dict(
            {k_: v for k_, v in q.items() if k_ != "after"},
            features=engine.features)
        node, filters = engine.interpret(sq)
        return self.search(node, filters, k=sq.num_items or 10,
                           sort=sq.sort, ascending=sq.ascending, after=after,
                           agg={f_: [tuple(r) for r in rs]
                                for f_, rs in (sq.agg or {}).items()} or None)


def assert_result_matches(res, ref: dict) -> None:
    """An engine SearchResult equals the reference: total, the ranked
    (doc_id, f32 score, sort value) items exactly, the has-next flag and
    the aggregation buckets."""
    assert res.total_found == ref["total"]
    got = [(i["doc_id"], i["score"], i["sort_val"]) for i in res.items]
    assert got == ref["items"]
    assert (res.next is not None) == (ref["visited"] > len(ref["items"]) > 0)
    assert res.agg == ref["agg"]


def walk_pages(engine, ref: Reference, q: dict, max_pages: int = 100) -> int:
    """Cursor-walk q to exhaustion on the engine, checking every page
    against the reference's page after the previous page's last item;
    returns the number of items seen."""
    seen: set[int] = set()
    after = cursor = None
    for _ in range(max_pages):
        res = engine.search(dict(q) if cursor is None
                            else dict(q, after=cursor))
        assert_result_matches(res, ref.query(engine, q, after=after))
        ids = {i["doc_id"] for i in res.items}
        assert not (ids & seen), "pages must not overlap"
        seen |= ids
        if res.next is None:
            return len(seen)
        last = res.items[-1]
        after, cursor = (last["sort_val"], last["doc_id"]), res.next
    raise AssertionError("pagination did not terminate")


def assert_hits_match(kernel_result, oracle_result) -> None:
    """A KernelResult's (total, hits) equals OracleIndex.search's exactly:
    same total, same ranked doc_ids, f32-equal scores."""
    total, hits = oracle_result
    assert kernel_result.total == total
    assert kernel_result.hits == hits
