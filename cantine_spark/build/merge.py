"""Segment merge — k-way merge of compressed posting-list tables.

The reference's IndexWriter produces many small segments (one per commit,
cantine/src/bin/load.rs:89-100) that tantivy background-merges into larger
ones. Our analog: each incremental build emits its own `segments` table
(a "generation"); `merge_segments` unions N generations and re-encodes into
one table with a single shard span.

Correctness note (the subtle part): blocks are immutable but the merged
table must agree on ONE shard span. A block built under generation span g
only maps to a single merge-shard when the merge span m is a multiple of g
(then no multiple of m falls strictly inside any block's doc range).
Re-sharding blocks by `first_doc // m` when spans are NOT aligned splits a
doc's postings for different terms across shards — duplicate partial-score
rows in OR, dropped docs in AND. So:

  - aligned spans (m % g == 0 for every generation) → block-level fast
    path: union → groupBy(field, term, first_doc // m) → decode + re-encode;
  - unaligned spans → posting-level path: decode every block to posting
    rows, assign shard = doc_id // m PER POSTING, then group + encode.
    Heavier (shuffles decoded postings) but always correct.

Properties tested in tests/test_merge.py:
- merging the generations of a split corpus build equals the single-shot
  build bit-for-bit (after block re-cutting), for aligned AND unaligned
  generation spans;
- merge is idempotent and checkpoint-resumable (stage marker keyed by the
  input generations' fingerprint).

doc_ids must be globally unique across generations (incremental ingest
assigns new ids past the previous max — streaming/incremental.py).
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cantine_spark import fsutil
from pyspark.sql import types as T

from cantine_spark.build.codec import decode_varint
from cantine_spark.build.segments import (
    SEGMENT_SCHEMA, _encode_group_blocks,
)

_POSTING_SCHEMA = T.StructType([
    T.StructField("field", T.StringType()),
    T.StructField("term", T.StringType()),
    T.StructField("doc_id", T.LongType()),
    T.StructField("tf", T.IntegerType()),
    T.StructField("dl", T.IntegerType()),
    T.StructField("positions", T.BinaryType()),
])


def decode_block(row):
    """One block row → (docs, tfs, dls, per-posting position blobs)."""
    docs = np.cumsum(decode_varint(row.doc_deltas), dtype=np.uint64).astype(np.int64)
    tfs = decode_varint(row.tfs).astype(np.int64)
    dls = decode_varint(row.dls).astype(np.int64)
    blob = bytes(getattr(row, "positions", b"") or b"")
    if blob:
        offs = np.concatenate(([0], np.cumsum(tfs))) * 4
        pos = [blob[offs[i]:offs[i + 1]] for i in range(len(tfs))]
    else:
        pos = [b""] * len(tfs)
    return docs, tfs, dls, pos


def _generation_span(path: str) -> int | None:
    try:
        return int(fsutil.read_json(
            fsutil.join(path, "_SEGMENTS_META.json"))["shard_span"])
    except (OSError, json.JSONDecodeError, KeyError, ValueError):
        return None


def _check_unique(field, term, docs: np.ndarray) -> None:
    if len(np.unique(docs)) != len(docs):
        raise ValueError(
            f"duplicate doc_id across generations for {field}:{term}")


def merge_segments(spark: SparkSession, segment_paths: list[str],
                   out_path: str, avgdl_by_field: dict[str, float],
                   shard_span: int) -> dict:
    """Merge N segment tables into one. avgdl must be the merged corpus'
    avgdl (recomputed from merged docmeta) so block-max bounds stay true."""
    spans = [_generation_span(p) for p in segment_paths]
    aligned = all(s is not None and shard_span % s == 0 for s in spans)

    frames = [spark.read.parquet(p) for p in segment_paths]
    union = frames[0]
    for fr in frames[1:]:
        union = union.unionByName(fr)

    cols = [f.name for f in SEGMENT_SCHEMA.fields]

    if aligned:
        # every block maps whole into one merge shard (span divisibility),
        # so first_doc // span is exact for every posting in the block
        keyed = union.withColumn(
            "shard", (F.col("first_doc") / F.lit(shard_span)).cast("int"))

        def remerge(key, pdf: pd.DataFrame) -> pd.DataFrame:
            field, term, shard = key
            docs, tfs, dls, pos = [], [], [], []
            for row in pdf.itertuples():
                d, t_, l_, p_ = decode_block(row)
                docs.append(d); tfs.append(t_); dls.append(l_); pos.extend(p_)
            docs = np.concatenate(docs)
            tfs = np.concatenate(tfs)
            dls = np.concatenate(dls)
            _check_unique(field, term, docs)
            rows = _encode_group_blocks(field, term, int(shard),
                                        docs, tfs, dls,
                                        avgdl_by_field[field], positions=pos)
            return pd.DataFrame(rows, columns=cols)

        merged = (keyed.groupBy("field", "term", "shard")
                  .applyInPandas(remerge, SEGMENT_SCHEMA))
    else:
        # unaligned spans: blocks may straddle merge-shard boundaries —
        # re-shard PER POSTING (decode → shuffle rows → encode)
        postings = union.mapInPandas(_decode_to_postings, _POSTING_SCHEMA)
        keyed = postings.withColumn(
            "shard", (F.col("doc_id") / F.lit(shard_span)).cast("int"))

        def encode(key, pdf: pd.DataFrame) -> pd.DataFrame:
            field, term, shard = key
            docs = pdf["doc_id"].to_numpy(np.int64)
            _check_unique(field, term, docs)
            rows = _encode_group_blocks(
                field, term, int(shard), docs,
                pdf["tf"].to_numpy(np.int64),
                pdf["dl"].to_numpy(np.int64),
                avgdl_by_field[field],
                positions=pdf["positions"].tolist())
            return pd.DataFrame(rows, columns=cols)

        merged = (keyed.groupBy("field", "term", "shard")
                  .applyInPandas(encode, SEGMENT_SCHEMA))

    t0 = time.time()
    parallelism = spark.sparkContext.defaultParallelism
    (merged
     .repartition(max(8, parallelism), "shard")
     .sortWithinPartitions("shard", "field", "term", "block_id")
     .write.mode("overwrite").partitionBy("shard").parquet(out_path))
    meta = {"format": 2, "shard_span": shard_span, "block_size": 128,
            "merged_from": segment_paths,
            "generation_spans": spans,
            "aligned_fast_path": aligned,
            "merge_seconds": round(time.time() - t0, 3)}
    fsutil.write_json(fsutil.join(out_path, "_SEGMENTS_META.json"), meta)
    return meta


def _decode_to_postings(batches):
    for pdf in batches:
        outs = []
        for row in pdf.itertuples():
            d, t_, l_, p_ = decode_block(row)
            outs.append(pd.DataFrame({
                "field": row.field, "term": row.term,
                "doc_id": d,
                "tf": t_.astype(np.int32),
                "dl": l_.astype(np.int32),
                "positions": p_}))
        if outs:
            yield pd.concat(outs, ignore_index=True)


def segments_to_postings(spark: SparkSession, seg_path: str) -> DataFrame:
    """Decode a segments table back to (field, term, doc_id, tf, dl,
    positions) rows — the verification inverse used by the merge
    equivalence tests."""
    return spark.read.parquet(seg_path).mapInPandas(
        _decode_to_postings, _POSTING_SCHEMA)
