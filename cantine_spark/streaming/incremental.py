"""Incremental / streaming index ingest.

The reference's loader commits every COMMIT_EVERY=300k docs
(cantine/src/bin/load.rs:89-100,150) so readers see new segments as they
land. The Spark-native equivalent: Structured Streaming over the corpus
source with `availableNow` + foreachBatch — each micro-batch is one "commit"
that appends a new index GENERATION (its own docs/docmeta/segments tables
under gen_NNNN/), and `compact()` merges generations into a single
queryable index (build/merge.py), exactly the small-segment → merged-segment
lifecycle of the reference. Compaction merges the segments blocks
themselves; no posting rows are rewritten or re-scanned.

Generation state (generations.json) carries the doc_id watermark so ids stay
globally unique and reruns of an already-committed epoch are idempotent
(foreachBatch may redeliver a batch after a crash — the epoch's generation
dir is only registered once).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cantine_spark import fsutil

from cantine_spark.build.builder import (
    N_BUCKETS, TEXT_FIELDS, IndexBuilder, write_index_stats, write_term_stats,
)
from cantine_spark.build.champions import write_champions
from cantine_spark.build.merge import merge_segments
from cantine_spark.build.segments import default_span, write_fastfields
from cantine_spark.corpus import CORPUS_SCHEMA, with_doc_ids


@dataclass
class StreamingIndexer:
    spark: SparkSession
    index_root: str

    @property
    def _state_path(self) -> str:
        return os.path.join(self.index_root, "generations.json")

    def _load_state(self) -> dict:
        if fsutil.exists(self._state_path):
            return fsutil.read_json(self._state_path)
        return {"generations": [], "next_doc_id": 0}

    def _save_state(self, state: dict) -> None:
        fsutil.ensure_dir(self.index_root)
        fsutil.write_json(self._state_path, state)

    # ------------------------------------------------------------- ingest
    def commit_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """One streaming commit: assign ids past the watermark, build a full
        generation (docs/docmeta/uuid_map/index_stats/segments/term_stats).
        Idempotent per epoch — redelivered batches are skipped."""
        state = self._load_state()
        if any(g["epoch"] == epoch_id for g in state["generations"]):
            return  # crash-redelivery: already committed
        n = batch_df.count()
        if n == 0:
            return
        gen_dir = os.path.join(self.index_root, f"gen_{epoch_id:06d}")
        base = state["next_doc_id"]
        ided = with_doc_ids(batch_df).withColumn(
            "doc_id", F.col("doc_id") + F.lit(base))
        IndexBuilder(self.spark, gen_dir).build(ided)  # includes segments
        state["generations"].append(
            {"epoch": epoch_id, "dir": gen_dir, "n_docs": n,
             "first_doc_id": base, "committed_at": time.time()})
        state["next_doc_id"] = base + n
        self._save_state(state)

    def ingest_available(self, source_path: str, checkpoint_dir: str) -> int:
        """Drain everything currently in `source_path` (availableNow) through
        foreachBatch commits; returns number of generations committed."""
        before = len(self._load_state()["generations"])
        stream = (self.spark.readStream.schema(CORPUS_SCHEMA)
                  .option("maxFilesPerTrigger", 1)
                  .parquet(source_path))
        q = (stream.writeStream
             .foreachBatch(self.commit_batch)
             .option("checkpointLocation", checkpoint_dir)
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return len(self._load_state()["generations"]) - before

    # ------------------------------------------------------------ compact
    def compact(self, dest: str = "compacted",
                generations: list[dict] | None = None,
                shard_span: int | None = None) -> str:
        """Merge generations into index_root/<dest>/ — a complete index
        (docs/docmeta unions + merged segments + stats) ready for
        IndexReader/SearchEngine. A serving process passes a VERSIONED dest
        so a refresh builds the new index beside the live one and swaps
        atomically — never overwriting parquet files a running engine may
        still scan (blue/green swap).

        `generations` restricts the merge to a SUBSET of committed
        generations (default: all) — the tier-build primitive of the
        serving layer's incremental compaction (serve.IndexServer): a
        refresh compacts only the NEW generations into a new tier, O(delta)
        instead of O(total index). `shard_span` pins the segment span so
        every tier of one root shares it (TieredIndexReader requires this).
        """
        state = self._load_state()
        source = (generations if generations is not None
                  else state["generations"])
        if not source:
            raise ValueError("nothing to compact")
        return self.compact_dirs([g["dir"] for g in source],
                                 dest, covered=list(source),
                                 shard_span=shard_span)

    def compact_dirs(self, dirs: list[str], dest: str,
                     covered: list[dict] | None = None,
                     shard_span: int | None = None) -> str:
        """k-way merge of COMPLETE index dirs (generation dirs OR existing
        tier dirs — a tier is itself a complete index, so the serving
        layer's tier-merge policy reuses this verbatim). `covered` is the
        generation metadata the output covers (recorded in the manifest,
        with the output's doc_id_range, for tier bookkeeping)."""
        gens = dirs
        out = os.path.join(self.index_root, dest)
        spark = self.spark

        def _union(name: str) -> DataFrame:
            # partitioned tables have distinct roots per generation — read
            # separately and union (multi-root partition discovery is invalid)
            frames = [spark.read.parquet(os.path.join(g, name)) for g in gens]
            u = frames[0]
            for fr in frames[1:]:
                u = u.unionByName(fr)
            return u

        for name in ("docs", "docmeta"):
            (_union(name).repartitionByRange(
                max(4, spark.sparkContext.defaultParallelism), "doc_id")
             .sortWithinPartitions("doc_id")
             .write.mode("overwrite").parquet(os.path.join(out, name)))
        docs_u = spark.read.parquet(os.path.join(out, "docs"))
        (docs_u.select(
            "uuid", "doc_id",
            F.pmod(F.xxhash64("uuid"), F.lit(N_BUCKETS)).cast("int")
            .alias("ubucket"))
         .repartition(N_BUCKETS, "ubucket")
         .sortWithinPartitions("ubucket", "uuid")
         .write.mode("overwrite").partitionBy("ubucket")
         .parquet(os.path.join(out, "uuid_map")))

        dm = spark.read.parquet(os.path.join(out, "docmeta"))
        # one agg job covers every field; the TEXT_FIELDS-row result is
        # written driver-side (write_index_stats) — a refresh must not pay
        # a Python-worker spawn for a 2-row frame
        agg = dm.agg(F.count("*").alias("n"),
                     *[F.sum(f"doc_len_{fld}").alias(f"t_{fld}")
                       for fld in TEXT_FIELDS]).collect()[0]
        rows = []
        for fld in TEXT_FIELDS:
            total = int(agg[f"t_{fld}"] or 0)
            rows.append((fld, int(agg["n"]), total,
                         total / max(int(agg["n"]), 1)))
        write_index_stats(os.path.join(out, "index_stats"), rows)

        avgdl = {r[0]: r[3] for r in rows}
        n_docs = rows[0][1]
        span = shard_span or default_span(
            n_docs, spark.sparkContext.defaultParallelism)
        merge_segments(spark, [os.path.join(g, "segments") for g in gens],
                       os.path.join(out, "segments"), avgdl, span)
        # compacted index gets the same shard-local fast-field sidecar as a
        # fresh build (field sorts / fused aggs stay O(matches) after merge)
        write_fastfields(spark, out, span)
        # ... and the per-term champion sidecar (hot-term fast path); each
        # tier's champions carry ITS avgdl — the query-side tail bound
        # rescales by max(1, avgdl_global/avgdl_tier), mirroring the tiered
        # block-max rescale
        write_champions(spark, out, avgdl, span)
        # term_stats from the merged champions (Σ n_total, Σ cf), as the
        # batch build does
        write_term_stats(spark, os.path.join(out, "champions"),
                         os.path.join(out, "term_stats"))

        if covered is None:
            covered = self._load_state()["generations"]
        if covered and all("first_doc_id" in g for g in covered):
            doc_range = [min(int(g["first_doc_id"]) for g in covered),
                         max(int(g["first_doc_id"]) + int(g["n_docs"])
                             for g in covered)]
        else:  # fallback: one tiny agg over the (range-partitioned) docs
            r = docs_u.agg(F.min("doc_id"), F.max("doc_id")).collect()[0]
            doc_range = [int(r[0]), int(r[1]) + 1]
        manifest = {"version": 1, "n_docs": n_docs,
                    "fingerprint": f"compacted-{len(gens)}",
                    "text_fields": list(TEXT_FIELDS),
                    "n_buckets": N_BUCKETS,
                    "shard_span": span,
                    "doc_id_range": doc_range,
                    "generations": covered,
                    "built_at": time.time()}
        fsutil.write_json(os.path.join(out, "manifest.json"), manifest)
        return out
