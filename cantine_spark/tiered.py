"""Tiered index reader — one logical index over N immutable tier directories.

The reference's writer produces many small segments that tantivy merges in
the background (cantine/src/bin/load.rs:89-100 commits; tantivy's merge
policy folds small segments into larger tiers so a commit never rewrites the
whole index). Our serving analog (VERDICT r4 item #1): a refresh builds a
NEW small tier from just the new generations — O(delta) — and the engine
queries the UNION of tiers through this reader; a background merge policy
(serve.IndexServer) bounds the tier count.

Why the union is exact (bit-identical to full compaction):

- **doc ids**: tiers cover disjoint, ascending doc_id ranges (the streaming
  watermark assigns new ids past the previous max), so unions never collide
  and per-(field,term) posting arrays concatenate sorted.
- **shards**: every tier encodes segments with the SAME shard_span
  (validated here), so `shard = doc_id // span` means the same doc range in
  every tier and a shard task reads all tiers' blocks for a range.
  Spans need NOT align to tier boundaries: a boundary shard simply receives
  blocks (and sidecar files) from two tiers, with disjoint doc ranges.
- **scoring**: exact BM25 uses per-posting tf/dl (stored exact) with GLOBAL
  stats computed here — n_docs/total_len summed over tiers (integer sums →
  avgdl is bit-identical to the merged index's), df summed over tiers'
  term_stats. So scores equal the fully-compacted index's scores exactly.
- **block-max bounds**: each tier's blocks store max_tfnorm computed with
  that tier's OWN avgdl at encode time. tfnorm is monotone increasing in
  avgdl (tf·(k1+1)/(tf+K1·(1-B+B·dl/avgdl))), and for a_new ≥ a_old,
  tfnorm_new/tfnorm_old = (A+s/a_old)/(A+s/a_new) ≤ a_new/a_old for every
  (tf, dl) [A = tf+K1(1-B) > 0, s = K1·B·dl ≥ 0; cross-multiplying reduces
  the inequality to a_old ≤ a_new]. So scaling a tier's stored bound by
  max(1, avgdl_global/avgdl_tier) per field yields a TRUE upper bound under
  global-avgdl scoring — pruning stays lossless (differential-tested
  tiered ≡ compacted in tests/test_tiered.py).
"""

from __future__ import annotations

import functools
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cantine_spark import fsutil

from cantine_spark.build.builder import N_BUCKETS
from cantine_spark.build.segments import load_fastfields_meta, load_segments_meta
from cantine_spark.index import (
    REQUIRED, IndexReader, SchemaMismatch, open_segments,
)


class TieredIndexReader(IndexReader):
    """IndexReader over an ordered list of tier directories (each a complete
    index: docs/docmeta/uuid_map/term_stats/index_stats/segments/champions/
    fastfields). Tiers must share shard_span and n_buckets and cover
    disjoint doc_id ranges, ascending in list order."""

    def __init__(self, spark: SparkSession, tier_dirs: list[str]):
        if not tier_dirs:
            raise ValueError("TieredIndexReader needs at least one tier")
        self.tier_dirs = list(tier_dirs)
        super().__init__(spark=spark, index_dir=tier_dirs[0])

    # ------------------------------------------------------------ validation
    def _open(self) -> None:
        """Every tier opens like a single index (open_segments: v2
        segments, a covering sidecar), and the tiers agree on the span."""
        spans = [open_segments(self.spark, d, self.docmeta.schema)
                 for d in self.tier_dirs]
        if len(set(spans)) > 1:
            raise SchemaMismatch(
                f"tiers must share one shard_span, got {spans} — re-encode "
                "with a fixed span (serve.IndexServer pins one per root)")
        self._span = spans[0]
        ranges = [self._tier_range(d) for d in self.tier_dirs]
        for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
            if b_lo < a_hi:
                raise SchemaMismatch(
                    f"tier doc_id ranges overlap or are out of order: "
                    f"[{a_lo},{a_hi}) then [{b_lo},{b_hi})")
        self._ranges = ranges
        buckets = {int(self._tier_manifest(d).get("n_buckets", N_BUCKETS))
                   for d in self.tier_dirs}
        if len(buckets) > 1:
            raise SchemaMismatch(f"tiers disagree on n_buckets: {buckets}")
        self._n_buckets = buckets.pop()

    def _tier_manifest(self, d: str) -> dict:
        return fsutil.read_json(fsutil.join(d, "manifest.json"))

    def _tier_range(self, d: str) -> tuple[int, int]:
        """[doc_lo, doc_hi) for a tier — from its manifest (compact() records
        doc_id_range; older manifests carry the generations list), falling
        back to one tiny min/max agg over the tier's docmeta."""
        m = self._tier_manifest(d)
        if "doc_id_range" in m:
            lo, hi = m["doc_id_range"]
            return int(lo), int(hi)
        gens = m.get("generations") or []
        if gens:
            lo = min(int(g["first_doc_id"]) for g in gens)
            hi = max(int(g["first_doc_id"]) + int(g["n_docs"]) for g in gens)
            return lo, hi
        row = (self.spark.read.parquet(fsutil.join(d, "docmeta"))
               .agg(F.min("doc_id"), F.max("doc_id")).collect()[0])
        return int(row[0]), int(row[1]) + 1

    # --------------------------------------------------------------- tables
    def _union(self, name: str) -> DataFrame:
        frames = [self.spark.read.parquet(fsutil.join(d, name))
                  for d in self.tier_dirs]
        return functools.reduce(lambda a, b: a.unionByName(b), frames)

    def table(self, name: str) -> DataFrame:
        df = self._union(name)
        missing = REQUIRED[name] - set(df.columns)
        if missing:
            raise SchemaMismatch(f"{name} missing columns {sorted(missing)}")
        return df

    @cached_property
    def term_stats(self) -> DataFrame:
        # a term present in several tiers has one row per tier — re-aggregate
        # so term_dfs sees the GLOBAL df/cf (integer sums, exact)
        return (self._union("term_stats")
                .groupBy("field", "term", "bucket")
                .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf")))

    @cached_property
    def uuid_map(self) -> DataFrame:
        for d in self.tier_dirs:
            if not fsutil.is_dir(fsutil.join(d, "uuid_map")):
                raise SchemaMismatch(f"tier {d} predates uuid_map")
        return self.table("uuid_map")

    @cached_property
    def tier_stats(self) -> list[dict]:
        """Per-tier per-field {n_docs, total_len, avgdl} (encode-time)."""
        out = []
        for d in self.tier_dirs:
            rows = self.spark.read.parquet(
                fsutil.join(d, "index_stats")).collect()
            out.append({r["field"]: {"n_docs": int(r["n_docs"]),
                                     "total_len": int(r["total_len"]),
                                     "avgdl": float(r["avgdl"])}
                        for r in rows})
        return out

    @cached_property
    def stats(self) -> dict[str, dict]:
        """GLOBAL collection stats: integer sums over tiers → identical to a
        fully-compacted index's stats (exact-scoring equivalence)."""
        agg: dict[str, dict] = {}
        for ts in self.tier_stats:
            for fld, s in ts.items():
                a = agg.setdefault(fld, {"n_docs": 0, "total_len": 0})
                a["n_docs"] += s["n_docs"]
                a["total_len"] += s["total_len"]
        for a in agg.values():
            a["avgdl"] = a["total_len"] / max(a["n_docs"], 1)
        return agg

    @cached_property
    def manifest(self) -> dict:
        tiers = [self._tier_manifest(d) for d in self.tier_dirs]
        return {"version": 1, "tiered": True,
                "n_docs": sum(int(t["n_docs"]) for t in tiers),
                "n_buckets": self._n_buckets,
                "text_fields": tiers[0].get("text_fields"),
                "tiers": [{"dir": d, "n_docs": int(t["n_docs"]),
                           "doc_id_range": list(r)}
                          for d, t, r in zip(self.tier_dirs, tiers,
                                             self._ranges)]}

    # ------------------------------------------------- segment-path providers
    def segments_meta(self) -> dict:
        m = dict(load_segments_meta(self.tier_dirs[0]))
        m["tiers"] = len(self.tier_dirs)
        return m

    def doc_store_dirs(self) -> list[str]:
        return [fsutil.join(d, "docs") for d in self.tier_dirs]

    def term_stats_dirs(self) -> list[str]:
        # one dir per tier — the executor's driver-side df lookup sums the
        # per-tier rows, matching this class's term_stats groupBy-SUM
        return [fsutil.join(d, "term_stats") for d in self.tier_dirs]

    def uuid_map_dirs(self) -> list[str]:
        # a uuid lives in exactly one tier (disjoint doc ranges + per-build
        # uniqueness gate); reading every tier's bucket preserves the
        # duplicate-uuid invariant check across tiers
        return [fsutil.join(d, "uuid_map") for d in self.tier_dirs]

    def fastfields_spec(self) -> dict:
        metas = [load_fastfields_meta(d) for d in self.tier_dirs]
        cols = set(metas[0]["columns"])
        for m in metas[1:]:
            cols &= set(m["columns"])
        return {"shard_span": self._span, "columns": sorted(cols),
                "locations": [(lo, hi, fsutil.join(d, "fastfields"))
                              for (lo, hi), d in zip(self._ranges,
                                                     self.tier_dirs)]}

    def champions_spec(self) -> dict | None:
        """Champion sidecar across tiers: available only when EVERY tier
        carries one at the shared span (a tier built pre-champions would
        make the union lossy — fall back to the block kernel). No avgdl
        rescale is needed here: each champion row stores its tier's
        avgdl_build, and the query-side tail bound applies
        max(1, avgdl_global/avgdl_build) per row (wand._champ_row_frame)."""
        from cantine_spark.build.champions import load_champions_meta
        metas = [load_champions_meta(d) for d in self.tier_dirs]
        if any(m is None for m in metas):
            return None
        if {int(m["shard_span"]) for m in metas} != {self._span}:
            return None
        return {"shard_span": self._span,
                "cap": min(int(m["cap"]) for m in metas)}

    # ----------------------------------------------- driver-tier point specs
    def segment_point_spec(self) -> list[tuple[str, dict[str, tuple]]]:
        """Per-tier segments dirs with their block-bound rescale factors
        {field: (max_factor, min_factor)}, r = avgdl_global/avgdl_tier:
        max_tfnorm × max(1, r) stays an upper bound and min_tfnorm ×
        min(1, r) a lower bound under GLOBAL-avgdl scoring (tfnorm(a2) ≥
        tfnorm(a1)·min(1, a2/a1) by the same monotonicity lemma with the
        roles swapped — module docstring). driverexec.read_rows applies
        them to every point read, so the kernel is tier-oblivious."""
        g = self.stats
        out = []
        for d, ts in zip(self.tier_dirs, self.tier_stats):
            factors = {}
            for fld, s in ts.items():
                if s["avgdl"] <= 0:
                    continue
                r = g[fld]["avgdl"] / s["avgdl"]
                if r != 1.0:
                    factors[fld] = (max(1.0, r), min(1.0, r))
            out.append((fsutil.join(d, "segments"), factors))
        return out

    def champion_point_spec(self) -> list[str]:
        # no rescale: champion rows store avgdl_build, the query-side tail
        # bound applies the drift factor per row (wand._champ_row_frame)
        return [fsutil.join(d, "champions") for d in self.tier_dirs]
