"""SearchQuery JSON surface + engine orchestration — the `/search` lifecycle.

Mirrors cantine's public API (cantine/src/model.rs:188-200 for the query
shape, cantine/src/main.rs:42-150 for the request lifecycle):

  {"fulltext": "...", "num_items": 10, "filter": {feat: [lo, hi]},
   "agg": {feat: [[lo, hi], ...]}, "sort": "relevance", "ascending": false,
   "after": "<34-char cursor>"}

Lifecycle (SURVEY §3.1): decode cursor (uuid → doc_id, 400-equivalent on
unknown) → parse fulltext (DisMax, tiebreaker 0.1; field boosts; no fulltext
is match-all) → ONE segment-kernel query with the range filters, the
pagination predicate, the top-k and the fused range aggregations in it
(execution/wand.py) → hydration of the winners → next cursor; with an
agg_threshold, aggregations run as a second kernel pass iff total ≤
threshold (main.rs:137-147). Every query, match-all and pure-negative ones
included, runs on the segment kernel: the reference's searcher IS its
segment reader (cantine/src/index.rs:69-129).
"""

from __future__ import annotations

import binascii
from dataclasses import dataclass, field as dc_field
from typing import Any

from cantine_spark.aggregate import RangeStats
from cantine_spark.cursor import (
    TAG_RELEVANCE, TAG_U64, InvalidCursor, SearchCursor,
)
from cantine_spark.execution.executor import SearchExecutor
from cantine_spark.execution.wand import FastTopK, KernelResult
from cantine_spark.index import IndexReader
from cantine_spark.plans.nodes import All, QueryNode, simplify
from cantine_spark.queryparser.parser import QueryParser

MAX_ITEMS = 255          # u8 page cap (model.rs:192)
DEFAULT_ITEMS = 10       # main.rs:124
DISMAX_TIEBREAKER = 0.1  # main.rs:156
MAX_QUERY_BYTES = 4096   # request-size cap (main.rs:253 caps the body at 4 KiB)
FIELD_BOOSTS = {"path": 1.15, "content": 1.0}  # analog of name×1.15 (main.rs:229-233)

_KNOWN_KEYS = {"fulltext", "num_items", "filter", "agg", "sort",
               "ascending", "after"}


class BadRequest(ValueError):
    """The 400-response analog (unknown field, bad cursor, bad range)."""


def _agg_ranges(query: SearchQuery) -> dict[str, list[tuple]]:
    return {f_: [tuple(r) for r in v] for f_, v in query.agg.items()}


@dataclass
class SearchQuery:
    fulltext: str | None = None
    num_items: int | None = None
    filter: dict[str, list] | None = None
    agg: dict[str, list[list]] | None = None
    sort: str | None = None
    ascending: bool = False
    after: str | None = None

    @classmethod
    def from_dict(cls, d: dict[str, Any],
                  features: dict | None = None) -> SearchQuery:
        unknown = set(d) - _KNOWN_KEYS
        if unknown:  # serde deny_unknown_fields (model.rs:189)
            raise BadRequest(f"unknown fields: {sorted(unknown)}")
        ft = d.get("fulltext")
        if isinstance(ft, str) and len(ft.encode("utf-8")) > MAX_QUERY_BYTES:
            # the 4 KiB body-cap analog (main.rs:253): an unbounded query
            # string would tokenize into an unbounded term tree
            raise BadRequest(f"fulltext exceeds {MAX_QUERY_BYTES} bytes")
        q = cls(**d)
        # shape validation first — serde rejects wrong JSON types before any
        # value check (model.rs:188-200); a str num_items or a list filter
        # must be a clean 400, never a TypeError escaping into the batcher
        if ft is not None and not isinstance(ft, str):
            raise BadRequest("fulltext must be a string")
        if q.num_items is not None and (isinstance(q.num_items, bool)
                                        or not isinstance(q.num_items, int)):
            raise BadRequest("num_items must be an integer")
        if q.sort is not None and not isinstance(q.sort, str):
            raise BadRequest("sort must be a string")
        if not isinstance(q.ascending, bool):
            raise BadRequest("ascending must be a boolean")
        if q.after is not None and not isinstance(q.after, str):
            raise BadRequest("after must be a string")
        for name, v in [("filter", q.filter), ("agg", q.agg)]:
            if v is not None and not isinstance(v, dict):
                raise BadRequest(f"{name} must be an object")
        if q.agg is not None and not all(
                isinstance(v, (list, tuple)) for v in q.agg.values()):
            raise BadRequest("agg values are lists of [lo, hi] pairs")
        if q.num_items is not None and not 1 <= q.num_items <= MAX_ITEMS:
            raise BadRequest("num_items must be in 1..=255")
        for name, rngs in [("filter", [v for v in (q.filter or {}).values()]),
                           ("agg", [r for v in (q.agg or {}).values() for r in v])]:
            for r in rngs:
                if not isinstance(r, (list, tuple)) or len(r) != 2:
                    raise BadRequest(f"{name} ranges are [lo, hi] pairs")
                if not all(isinstance(b, (int, float))
                           and not isinstance(b, bool) for b in r):
                    raise BadRequest(f"{name} range bounds must be numbers")
        if features is not None:
            q.validate_features(features)
        return q

    def validate_features(self, features: dict) -> None:
        """Feature names come from the index's schema-derived set (U5:
        cantine_derive generates the filter/agg/sort surface from the struct
        shape; we derive it from docmeta's StructType at open time)."""
        for feat in list(self.filter or {}) + list(self.agg or {}):
            if feat not in features:
                raise BadRequest(f"unknown feature {feat!r}")
        if (self.sort is not None and self.sort != "relevance"
                and self.sort not in features):
            raise BadRequest(f"unknown sort {self.sort!r}")


@dataclass
class SearchResult:
    items: list[dict]
    total_found: int
    next: str | None = None
    agg: dict[str, list[RangeStats]] | None = None
    # engine observability: blocks_total / blocks_scored /
    # visited — block-max pruning evidence per query (north rule O10)
    stats: dict | None = None


@dataclass
class SearchEngine:
    reader: IndexReader
    agg_threshold: int | None = None  # None = ∞ (main.rs:193; prod 300k)
    # pin the hydration doc-store projection in cluster memory — set for
    # long-lived serving processes (SearchExecutor.pin_hydration)
    pin_tables: bool = False
    # driver-tier execution (wand.FastTopK.use_driver): small-posting
    # queries answered by driver-side point reads + the local kernel —
    # zero Spark jobs, bit-equal, cluster fallback. False forces every
    # query onto the cluster kernel (plan tests / bench comparison leg).
    use_driver: bool = True
    executor: SearchExecutor = dc_field(init=False)
    parser: QueryParser = dc_field(init=False)

    def __post_init__(self):
        self.executor = SearchExecutor(self.reader)
        self.parser = QueryParser(["content", "path"], boosts=FIELD_BOOSTS)
        self.features = self.reader.features  # schema-derived (U5)
        self._fast = FastTopK(self.reader, executor=self.executor,
                              use_driver=self.use_driver)
        if self.pin_tables:
            self.executor.pin_hydration()
        self._info: dict | None = None

    def info(self) -> dict:
        """Full-index /info view — n_docs, tier count, per-feature
        min/max/count. Computed ONCE per engine and cached: the tables
        behind it are immutable for this engine's tier set (a refresh
        swaps in a NEW engine, main.rs:174-189 computes the same view once
        at startup and :245 serves the cached value). Lazily-once so test
        engines that never serve /info pay nothing."""
        if self._info is None:
            from cantine_spark.aggregate import full_range_info
            self._info = {
                "n_docs": self.reader.num_docs,
                "tiers": len(self.reader.manifest.get("tiers", [])) or 1,
                "features": full_range_info(self.reader.docmeta,
                                            sorted(self.features)),
            }
        return self._info

    def close(self) -> None:
        """Release pinned tables (serving refresh swaps engines)."""
        self.executor.unpin_hydration()

    # ------------------------------------------------------------ interpret
    def interpret(self, query: SearchQuery
                  ) -> tuple[QueryNode, dict[str, tuple]]:
        """main.rs:152-172: fulltext (DisMax 0.1; none is match-all) and
        one half-open range filter {feat: (lo, hi)} per filtered feature,
        all Must-composed in the kernel."""
        node: QueryNode | None = None
        if query.fulltext and query.fulltext.strip():
            node = self.parser.parse_dismax(query.fulltext, DISMAX_TIEBREAKER)
        filters = {f_: tuple(r) for f_, r in (query.filter or {}).items()}
        return (All() if node is None else node), filters

    # ----------------------------------------------------------- cursor I/O
    def _decode_after(self, query: SearchQuery) -> tuple[float | int, int] | None:
        """cursor → (ref_value, ref_doc_id); unknown uuid → BadRequest
        (main.rs:53-76)."""
        if not query.after:
            return None
        try:
            cur = SearchCursor.decode(query.after)
        except InvalidCursor as e:
            raise BadRequest(str(e)) from e
        expected = self._cursor_tag(query.sort)
        if cur.tag != expected:
            raise BadRequest("cursor does not match sort mode")
        uuid_hex = binascii.hexlify(cur.uuid).decode()
        doc_id = self.reader.id_for_uuid(uuid_hex)
        if doc_id is None:
            raise BadRequest("unknown uuid in cursor")
        return cur.value, doc_id

    def _cursor_tag(self, sort: str | None) -> int:
        if sort in (None, "relevance"):
            return TAG_RELEVANCE
        return self.features[sort].cursor_tag

    def _encode_next(self, sort: str | None, value, uuid_hex: str) -> str:
        uuid = binascii.unhexlify(uuid_hex)
        tag = self._cursor_tag(sort)
        if tag == TAG_RELEVANCE:
            return SearchCursor.relevance(float(value), uuid).encode()
        if tag == TAG_U64:
            return SearchCursor.u64_field(int(value), uuid).encode()
        return SearchCursor.f64_field(float(value), uuid).encode()

    # ------------------------------------------------------- kernel search
    def _segment_spec(self, node: QueryNode, filters: dict, k: int,
                      after: tuple | None, query: SearchQuery) -> dict:
        """FastTopK.search_many spec of one query. Without
        an agg gate (agg_threshold None, the default) the aggregation
        FUSES into the kernel job; with one, the reference's two-pass
        shape (main.rs:137-147): pass 2 runs at assembly, only when
        total ≤ threshold."""
        return dict(
            node=node, k=k, after=after, ascending=query.ascending,
            sort_feature=(None if query.sort in (None, "relevance")
                          else query.sort),
            agg_query=(_agg_ranges(query)
                       if query.agg and self.agg_threshold is None else None),
            filters=filters or None)

    def _assemble_segment_result(self, spec: dict, query: SearchQuery,
                                 res: KernelResult,
                                 by_id: dict[int, dict]) -> SearchResult:
        """Turn one KernelResult + hydrated winner rows into a
        SearchResult (items, cursor, agg, stats). by_id may cover a whole
        batch's winners — only this query's ids are read."""
        sort_feature = spec["sort_feature"]
        feat = self.features[sort_feature] if sort_feature else None
        items: list[dict] = []
        if res.hits:
            for i, (d, s) in enumerate(res.hits):
                if sort_feature is None:
                    sv: float | int = s
                else:
                    sv = res.sort_vals[i]
                    sv = int(sv) if feat.kind == "u64" else float(sv)
                items.append({"doc_id": d, "uuid": by_id[d]["uuid"],
                              "repo": by_id[d]["repo"],
                              "path": by_id[d]["path"],
                              "lang": by_id[d]["lang"],
                              "score": s, "sort_val": sv})
        next_cursor = None
        if res.visited - len(items) > 0 and items:
            last = items[-1]
            next_cursor = self._encode_next(
                query.sort, last["sort_val"], last["uuid"])
        agg = None
        if query.agg and (self.agg_threshold is None
                          or res.total <= self.agg_threshold):
            if spec["agg_query"]:
                raw = res.agg  # partials came out of the ONE kernel job
            else:
                # gated: second collector pass on the segments
                # (main.rs:137-147), run only now that total is known
                raw = self._fast.search(
                    spec["node"], k=1, filters=spec["filters"],
                    agg_query=_agg_ranges(query)).agg
            agg = {}
            for feat, rngs in query.agg.items():
                kind = self.features[feat].kind
                stats = []
                for (cnt, mn, mx), (lo, hi) in zip(raw[feat], rngs):
                    if cnt == 0:
                        stats.append(RangeStats(min=hi, max=lo, count=0))
                    elif kind == "u64":
                        stats.append(RangeStats(min=int(mn), max=int(mx),
                                                count=cnt))
                    else:
                        stats.append(RangeStats(min=mn, max=mx, count=cnt))
                agg[feat] = stats
        return SearchResult(items=items, total_found=res.total,
                            next=next_cursor, agg=agg,
                            stats={"blocks_total": res.blocks_total,
                                   "blocks_scored": res.blocks_scored,
                                   "visited": res.visited,
                                   "champion_served": res.champion_served,
                                   "driver_served": res.driver_served})

    # ----------------------------------------------------------- search_node
    def search_node(self, node: QueryNode, k: int = DEFAULT_ITEMS,
                    ascending: bool = False) -> KernelResult:
        """Programmatic query-tree search — the public surface for custom
        query plans (U1/U2 hooks, MLT-generated trees, the showcase's
        term-level DisMax). Evaluates an arbitrary QueryNode on the segment
        kernel. Returns (total, visited, [(doc_id, f32 score)])."""
        return self._fast.search(simplify(node), k=k, ascending=ascending)

    # ---------------------------------------------------------------- search
    def search(self, query: SearchQuery | dict,
               explain: bool = False) -> SearchResult:
        """ONE query — a batch of one, `search_batch([query])[0]`, except
        that a BadRequest is raised instead of returned.

        explain=True attaches an `explanation` dict to every returned
        item — the tantivy Explanation analog (tique/src/dismax.rs:308-358):
        a tree of per-leaf BM25 contributions (idf/tf/dl/tfnorm, boosts,
        DisMax combine) whose root value casts f32-equal to the item's
        score. Computed driver-side for the ≤255 winners only (point reads
        of their segment blocks — no extra Spark job on the serving path;
        see explain.py)."""
        [res] = self._run_batch([query])
        if isinstance(res, BadRequest):
            raise res
        if explain and res.items:
            from cantine_spark.explain import explain_hits
            node, _ = self.interpret(self._parse(query))
            ex = explain_hits(self.reader, self.executor, node,
                              [it["doc_id"] for it in res.items])
            for it in res.items:
                it["explanation"] = ex[it["doc_id"]]
        return res

    def _parse(self, query: SearchQuery | dict) -> SearchQuery:
        if isinstance(query, dict):
            return SearchQuery.from_dict(query, features=self.features)
        query.validate_features(self.features)
        return query

    # ---------------------------------------------------------- search_batch
    def search_batch(self, queries: list[SearchQuery | dict]
                     ) -> list[SearchResult | BadRequest]:
        """Answer a micro-batch of queries with at most two kernel Spark
        jobs plus ONE shared hydration scan (FastTopK.search_many has the
        full rationale: every driver-scheduled job pays a fixed ~100-200 ms
        floor, so batching N concurrent queries amortizes it N-fold —
        the serving-throughput lever behind httpserve.QueryBatcher).

        A gated aggregation's second pass runs per query at assembly.

        Per-query error isolation: a query that fails to parse, validate,
        or resolve its cursor (all BadRequest shapes) fails ONLY its own
        slot, which holds the BadRequest instance; every other query still
        runs (a stale cursor from one HTTP client must never 400 its
        batch-mates). Engine-level failures (Spark job errors) raise for
        the whole batch."""
        return self._run_batch(queries)

    def _run_batch(self, queries: list[SearchQuery | dict]
                   ) -> list[SearchResult | BadRequest]:
        """The one request core behind search() and search_batch()."""
        results: list[SearchResult | BadRequest | None] = [None] * len(queries)
        specs: dict[int, tuple[dict, SearchQuery]] = {}
        for i, q in enumerate(queries):
            try:
                q = self._parse(q)
                k = q.num_items or DEFAULT_ITEMS
                node, filters = self.interpret(q)
                after = self._decode_after(q)
            except BadRequest as e:
                results[i] = e
                continue
            specs[i] = (self._segment_spec(node, filters, k, after, q), q)
        if specs:
            order = list(specs)
            kres = self._fast.search_many([specs[i][0] for i in order])
            # one pruned isin-scan of the doc store for every winner
            all_ids = sorted({d for r in kres for d, _ in r.hits})
            by_id = (self.executor.hydrate_ids(all_ids) if all_ids else {})
            for i, res in zip(order, kres):
                results[i] = self._assemble_segment_result(
                    *specs[i], res, by_id)
        return results
