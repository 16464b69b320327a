"""SPIMI segment encoder — compressed, block-structured posting lists.

The north-rule scale path: posting lists are delta+varint-encoded into
≤128-posting blocks carrying block-max score metadata, stored as a parquet
table (`segments/`). This is the analog of tantivy's immutable segment files
(written via IndexWriter commits, cantine/src/bin/load.rs:89-100), built as
one declarative Spark job:

  postings → repartition(field, term, shard) → applyInPandas(encode) → parquet

Layout decisions, each load-bearing at 10^12-doc scale:
- **shard = doc_id // shard_span**: every query term's blocks for the same
  doc range co-locate (groupBy shard), so query kernels parallelize over doc
  ranges and merge per-shard top-k — exactly the reference's per-segment
  collect + merge_fruits shape (tique top_collector.rs:168-195).
- **hot-term skew dies here**: the build group key is (field, term, shard),
  so a stopword-like term with billions of postings spreads over all doc
  shards instead of hammering one task (SURVEY §7.4 risk 3).
- **block-max metadata**: per block we store max over postings of the exact
  BM25 tf-normalization tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl)). idf is
  term-constant, so idf·max_tfnorm is a TRUE upper bound of any doc's
  contribution in the block under our exact-length scoring — the lossless
  block-max WAND invariant (SURVEY §7.4 risk 4).
- postings inside a block are doc_id-sorted; doc gaps, tfs, and dls are
  LEB128 varints (build/codec.py), all-numpy encode.
- **positions travel with the block** (concatenated little-endian int32,
  per-posting lengths = the tfs array), so phrase queries run entirely in
  the segment kernel — no row-per-posting table in the hot path.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cantine_spark import fsutil
from pyspark.sql import types as T

from cantine_spark.build.codec import encode_varint, encode_varint_with_lengths
from cantine_spark.execution.scoring import B, K1

BLOCK_SIZE = 128

SEGMENT_SCHEMA = T.StructType([
    T.StructField("field", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("block_id", T.IntegerType(), False),
    T.StructField("n_docs", T.IntegerType(), False),
    T.StructField("first_doc", T.LongType(), False),
    T.StructField("last_doc", T.LongType(), False),
    T.StructField("doc_deltas", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
    T.StructField("positions", T.BinaryType(), False),
    T.StructField("max_tfnorm", T.DoubleType(), False),
    # per-block tf-normalization MINIMUM (r6): a TRUE lower bound on any
    # member doc's contribution, decode-free. On flat-tfnorm leaves
    # (short constant-tf fields like `path`) min ≈ max, so the deferred-
    # leaf cascade (wand.scores_interval) bounds members nearly exactly
    # without touching tfs/dls. Pre-r6 indexes lack the column; readers
    # fall back to 0.0 (the old, weaker-but-valid bound).
    T.StructField("min_tfnorm", T.DoubleType(), False),
])


def _encode_group_blocks(field: str, term: str, shard: int,
                         docs: np.ndarray, tfs: np.ndarray,
                         dls: np.ndarray, avgdl: float,
                         positions: list | None = None) -> list[tuple]:
    """One (field, term, shard) sub-list → block rows. Input arrays are
    doc-sorted. Loop is per BLOCK (≤ n/128 + 1 iterations), numpy inside.
    `positions` is a sequence of bytes (packed <i4 per posting, len = 4·tf),
    aligned with docs; None → empty blobs (position-less index)."""
    order = np.argsort(docs, kind="stable")
    docs, tfs, dls = docs[order], tfs[order], dls[order]
    if positions is not None:
        pos = np.asarray(positions, dtype=object)[order]
    else:
        pos = None
    tfd = tfs.astype(np.float64)
    tfnorm = tfd * (K1 + 1.0) / (tfd + K1 * (1.0 - B + B * dls / avgdl))
    rows = []
    for b0 in range(0, len(docs), BLOCK_SIZE):
        sl = slice(b0, b0 + BLOCK_SIZE)
        d, t_, l_ = docs[sl], tfs[sl], dls[sl]
        deltas = np.empty(len(d), dtype=np.uint64)
        deltas[0] = d[0]
        deltas[1:] = (d[1:] - d[:-1]).astype(np.uint64)
        rows.append((
            field, term, shard, b0 // BLOCK_SIZE, len(d),
            int(d[0]), int(d[-1]),
            encode_varint(deltas),
            encode_varint(t_.astype(np.uint64)),
            encode_varint(l_.astype(np.uint64)),
            b"" if pos is None else b"".join(pos[sl]),
            float(tfnorm[sl].max()),
            float(tfnorm[sl].min()),
        ))
    return rows


def _encode_sorted(pdf: pd.DataFrame, avgdl: dict) -> pd.DataFrame:
    """Encode a (field, term, shard, doc_id)-sorted posting batch into block
    rows — ALL groups at once, pure numpy (a groupBy.applyInPandas here pays
    per-group Arrow + Python overhead × millions of rare-term groups; this
    one-pass formulation took the 50k-doc encode from 84s to seconds).
    Byte-identical to _encode_group_blocks on every group."""
    n = len(pdf)
    fields = pdf["field"].to_numpy()
    terms = pdf["term"].to_numpy()
    shards = pdf["shard"].to_numpy()
    docs = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)

    change = np.ones(n, dtype=bool)
    change[1:] = ((fields[1:] != fields[:-1]) | (terms[1:] != terms[:-1])
                  | (shards[1:] != shards[:-1]))
    gstart_idx = np.flatnonzero(change)
    gid = np.cumsum(change) - 1
    rank = np.arange(n, dtype=np.int64) - gstart_idx[gid]
    bchange = change | (rank % BLOCK_SIZE == 0)
    bstart = np.flatnonzero(bchange)
    bend = np.append(bstart[1:], n)

    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = docs[0]
    deltas[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    deltas[bstart] = docs[bstart].astype(np.uint64)  # reset at block starts

    dbuf, dnb = encode_varint_with_lengths(deltas)
    tbuf, tnb = encode_varint_with_lengths(tfs.astype(np.uint64))
    lbuf, lnb = encode_varint_with_lengths(dls.astype(np.uint64))

    def block_slices(buf: bytes, nb: np.ndarray) -> list[bytes]:
        offs = np.concatenate(([0], np.cumsum(nb)))
        return [buf[a:b] for a, b in zip(offs[bstart], offs[bend])]

    pbuf = b"".join(pdf["positions"].tolist())
    if len(pbuf) != 4 * int(tfs.sum()):
        # every posting blob must be exactly 4·tf bytes (<i4 per occurrence);
        # malformed posting rows must fail AT BUILD TIME — a silent
        # misalignment here would corrupt phrase results only at query time
        raise ValueError(
            f"positions blob misaligned: {len(pbuf)} bytes != "
            f"4 * sum(tf) = {4 * int(tfs.sum())}")
    poffs = np.concatenate(([0], np.cumsum(tfs * 4)))
    pos_slices = [pbuf[a:b] for a, b in zip(poffs[bstart], poffs[bend])]

    # avgdl by field, vectorized: a Series.map here is a Python-level call
    # per posting row (~1 s per 3M rows measured); TEXT_FIELDS is tiny so
    # two object-array compares beat it by an order of magnitude. A field
    # without an avgdl would leave its rows uninitialized (garbage
    # max_tfnorm bounds), so it fails here instead.
    av = np.empty(n, dtype=np.float64)
    known = np.zeros(n, dtype=bool)
    for k, v in avgdl.items():
        hit = fields == k
        av[hit] = v
        known |= hit
    if not known.all():
        missing = sorted(set(fields[~known].tolist()))
        raise ValueError(f"no avgdl for field(s) {missing}; index_stats "
                         f"covers {sorted(avgdl)}")
    tfd = tfs.astype(np.float64)
    tfn = tfd * (K1 + 1.0) / (tfd + K1 * (1.0 - B + B * dls / av))

    return pd.DataFrame({
        "field": fields[bstart],
        "term": terms[bstart],
        "shard": shards[bstart].astype(np.int32),
        "block_id": (rank[bstart] // BLOCK_SIZE).astype(np.int32),
        "n_docs": (bend - bstart).astype(np.int32),
        "first_doc": docs[bstart],
        "last_doc": docs[bend - 1],
        "doc_deltas": block_slices(dbuf, dnb),
        "tfs": block_slices(tbuf, tnb),
        "dls": block_slices(lbuf, lnb),
        "positions": pos_slices,
        "max_tfnorm": np.maximum.reduceat(tfn, bstart),
        "min_tfnorm": np.minimum.reduceat(tfn, bstart),
    })


def _encode_batches(avgdl: dict):
    """mapInPandas encoder with group carry-over: Arrow batches may split a
    (field, term, shard) group, so the trailing (possibly incomplete) group
    of each batch is held back and prepended to the next."""

    def gen(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            f = pdf["field"].to_numpy()
            t = pdf["term"].to_numpy()
            sh = pdf["shard"].to_numpy()
            tail = (f == f[-1]) & (t == t[-1]) & (sh == sh[-1])
            n_tail = len(pdf) if tail.all() else int(np.argmin(tail[::-1]))
            cut = len(pdf) - n_tail
            if cut == 0:
                pending = pdf
                continue
            pending = pdf.iloc[cut:].reset_index(drop=True)
            yield _encode_sorted(pdf.iloc[:cut], avgdl)
        if pending is not None and len(pending):
            yield _encode_sorted(pending, avgdl)

    return gen


# Combined block + champion output of the fused encoder (r7): one shuffled
# sort feeds BOTH the segment blocks and the champion sidecar rows, so the
# champion job's segments re-read + re-shuffle + varint re-decode is gone.
# Rows are disjoint by `kind` (0 = block, 1 = champion); champion-only
# columns are NULL on block rows and vice versa (cheap: parquet/Arrow
# encode all-null columns as validity bitmaps).
_CHAMP_ONLY = [
    T.StructField("n_total", T.LongType(), True),
    T.StructField("n_champ", T.IntegerType(), True),
    T.StructField("c_n_blocks", T.IntegerType(), True),
    T.StructField("c_doc_ids", T.BinaryType(), True),
    T.StructField("c_tfs", T.BinaryType(), True),
    T.StructField("c_dls", T.BinaryType(), True),
    T.StructField("tail_tfnorm", T.DoubleType(), True),
    T.StructField("avgdl_build", T.DoubleType(), True),
    T.StructField("cf", T.LongType(), True),
]
COMBINED_SCHEMA = T.StructType(
    [T.StructField("kind", T.IntegerType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in SEGMENT_SCHEMA.fields]
    + _CHAMP_ONLY)


def _encode_combined_batches(avgdl: dict, cap: int):
    """Carry-over wrapper emitting block rows AND champion rows per flushed
    chunk — same grouping/slicing as _encode_batches, same per-chunk
    kernels (_encode_sorted, champions_from_postings)."""
    from cantine_spark.build.champions import (  # noqa: PLC0415
        CHAMPIONS_SCHEMA, champions_from_postings)

    seg_cols = [f.name for f in SEGMENT_SCHEMA.fields]
    champ_cols = [f.name for f in CHAMPIONS_SCHEMA.fields]
    # champion table column → combined column (disjoint names where the
    # two tables use the same name for different content)
    remap = {"n_blocks": "c_n_blocks", "doc_ids": "c_doc_ids",
             "tfs": "c_tfs", "dls": "c_dls"}
    out_cols = [f.name for f in COMBINED_SCHEMA.fields]

    def combine(chunk: pd.DataFrame) -> pd.DataFrame:
        blocks = _encode_sorted(chunk, avgdl)
        champs = champions_from_postings(chunk, avgdl, cap)
        b = pd.DataFrame({"kind": np.zeros(len(blocks), np.int32)})
        for c in seg_cols:
            b[c] = blocks[c]
        for f_ in _CHAMP_ONLY:
            b[f_.name] = _null_col(len(blocks), f_.dataType)
        c = pd.DataFrame({"kind": np.ones(len(champs), np.int32)})
        for name in ("field", "term", "shard"):
            c[name] = champs[name]
        for f_ in SEGMENT_SCHEMA.fields:
            if f_.name not in ("field", "term", "shard"):
                c[f_.name] = _null_col(len(champs), f_.dataType)
        for name in champ_cols:
            if name in ("field", "term", "shard"):
                continue
            c[remap.get(name, name)] = champs[name]
        return pd.concat([b[out_cols], c[out_cols]], ignore_index=True)

    def gen(batches):
        pending: pd.DataFrame | None = None
        for pdf in batches:
            if pending is not None and len(pending):
                pdf = pd.concat([pending, pdf], ignore_index=True)
                pending = None
            if not len(pdf):
                continue
            f = pdf["field"].to_numpy()
            t = pdf["term"].to_numpy()
            sh = pdf["shard"].to_numpy()
            tail = (f == f[-1]) & (t == t[-1]) & (sh == sh[-1])
            n_tail = len(pdf) if tail.all() else int(np.argmin(tail[::-1]))
            cut = len(pdf) - n_tail
            if cut == 0:
                pending = pdf
                continue
            pending = pdf.iloc[cut:].reset_index(drop=True)
            yield combine(pdf.iloc[:cut])
        if pending is not None and len(pending):
            yield combine(pending)

    return gen


def _null_col(n: int, dtype):
    """All-null pandas column matching a Spark type (Arrow-safe: extension
    dtypes for ints so NaN never hits an int cast)."""
    if isinstance(dtype, T.LongType):
        return pd.array([None] * n, dtype="Int64")
    if isinstance(dtype, T.IntegerType):
        return pd.array([None] * n, dtype="Int32")
    if isinstance(dtype, T.DoubleType):
        return np.full(n, np.nan)
    return [None] * n  # binary / string


def write_fastfields(spark: SparkSession, index_dir: str,
                     shard_span: int) -> dict:
    """Per-shard fast-field sidecar — the analog of tantivy's per-segment
    FAST columns (cantine/src/index.rs:193,199-200 declare features FAST;
    tique/src/conditional_collector/top_collector.rs:150-153 reads the
    column per segment with zero cross-segment data motion).

    Every numeric docmeta feature is denormalized into fastfields/shard=N/
    with the SAME shard math as the segment blocks (shard = doc_id // span),
    doc_id-sorted. A query kernel that needs feature values (field sort, or
    a fused range aggregation) reads its OWN shard's file locally — no
    docmeta cogroup, no O(n_docs) shuffle per query (VERDICT r3 "What's
    missing" #1). At ~9 numeric features × 8 B this is ~72 B/doc of extra
    index footprint, written once per (re)encode.

    It holds every docmeta row, zero-token docs included, so its doc_id
    column is also the candidate list of match-all queries.

    Must be (re)written whenever segments are re-encoded with a different
    span or docmeta gains a column — build_segments and compaction call
    this, and _FF_META.json records the span and the columns so that
    index.open_segments can rewrite a stale sidecar when an index opens."""
    dm = spark.read.parquet(os.path.join(index_dir, "docmeta"))
    num_cols = fastfield_columns(dm.schema)
    out = os.path.join(index_dir, "fastfields")
    parallelism = spark.sparkContext.defaultParallelism
    (dm.select("doc_id", *num_cols)
       .withColumn("shard", (F.col("doc_id") / F.lit(shard_span)).cast("int"))
       .repartition(max(8, parallelism), "shard")
       .sortWithinPartitions("shard", "doc_id")
       .write.mode("overwrite").partitionBy("shard").parquet(out))
    meta = {"shard_span": shard_span, "columns": num_cols}
    fsutil.write_json(fsutil.join(out, "_FF_META.json"), meta)
    return meta


def fastfield_columns(schema) -> list[str]:
    """The numeric docmeta columns the sidecar holds, from docmeta's Spark
    schema."""
    from pyspark.sql.types import NumericType
    return [f.name for f in schema.fields
            if f.name != "doc_id" and isinstance(f.dataType, NumericType)]


def load_fastfields_meta(index_dir: str) -> dict | None:
    """Sidecar metadata, or None when absent/unreadable (pre-sidecar index)."""
    p = fsutil.join(index_dir, "fastfields", "_FF_META.json")
    try:
        return fsutil.read_json(p)
    except Exception:  # noqa: BLE001 — missing/unreadable on any filesystem
        return None


ENC_SALT = 8  # hot (field, term) spread per shard for the encode shuffle


def default_span(n_docs: int, parallelism: int) -> int:
    """Docs per shard when none is pinned: four shards per task slot, so
    growing the cluster shrinks each kernel's working set, and at least
    eight blocks per shard. The batch build and compaction share it."""
    return max(BLOCK_SIZE * 8, n_docs // (parallelism * 4) + 1)


def build_segments(spark: SparkSession, index_dir: str,
                   shard_span: int | None = None,
                   n_docs: int | None = None,
                   postings_df=None) -> dict:
    """Encode the index's postings into the compressed segments table, the
    champion sidecar and the fast-field sidecar.

    r7 shape (guide §2.4/§2.6 — one shuffle, overlapped sidecars): the
    postings shuffle is keyed (shard, hash(field, term) % ENC_SALT) —
    every (field, term, shard) group stays whole AND each output partition
    holds few distinct shards, so the encoder's output can be written
    partitionBy(shard) directly with a partition-LOCAL sort: the old
    second full shuffle + re-sort of every encoded blob is gone. The same
    sorted pass also emits the champion rows (fused encoder — no separate
    champions job re-reading and re-decoding the segments table); the
    combined frame is persisted once, split into the two tables, and
    unpersisted. The fast-field sidecar (independent: docmeta only) runs
    concurrently on a second driver thread and back-fills task slots.

    `postings_df` is the posting-row lineage to encode (the builder passes
    its invert of the tokenized table); None re-inverts the index's
    `tokenized/` table, so a re-encode with another span needs no stored
    postings. Output is bit-identical either way: the shuffle's partition
    assignment is a pure hash of (shard, xxhash64(field, term) % ENC_SALT),
    and the encoder sorts each partition on the unique (shard, field,
    term, doc_id) key, so input partitioning cannot change a single
    byte."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import StorageLevel

    from cantine_spark.build.champions import champion_cap

    from cantine_spark.build.builder import invert_postings

    postings = (postings_df if postings_df is not None else invert_postings(
        spark.read.parquet(os.path.join(index_dir, "tokenized"))))
    if n_docs is None:
        n_docs = fsutil.read_json(
            fsutil.join(index_dir, "manifest.json"))["n_docs"]
    parallelism = spark.sparkContext.defaultParallelism
    span = shard_span or default_span(n_docs, parallelism)
    cap = champion_cap(span)

    stats_rows = spark.read.parquet(
        os.path.join(index_dir, "index_stats")).collect()
    avgdl = {r["field"]: float(r["avgdl"]) for r in stats_rows}

    keyed = postings.select(
        "field", "term", "doc_id", "tf", "dl", "positions",
        (F.col("doc_id") / F.lit(span)).cast("int").alias("shard"))

    out_path = os.path.join(index_dir, "segments")
    champ_path = os.path.join(index_dir, "champions")
    t0 = time.time()
    with ThreadPoolExecutor(max_workers=1) as pool:
        ff_future = pool.submit(write_fastfields, spark, index_dir, span)
        enc = (keyed.repartition(
                   max(8, parallelism * 2), "shard",
                   F.pmod(F.xxhash64("field", "term"), F.lit(ENC_SALT)))
               .sortWithinPartitions("shard", "field", "term", "doc_id")
               .mapInPandas(_encode_combined_batches(avgdl, cap),
                            COMBINED_SCHEMA)
               .persist(StorageLevel.MEMORY_AND_DISK))
        # segments: rows leave the encoder already in (shard, field, term,
        # block_id) order; the partition-local sort re-establishes the
        # ordering METADATA after the opaque Python stage so the dynamic-
        # partition writer does not inject its own unstable shard sort
        (enc.filter(F.col("kind") == 0)
            .select(*[f.name for f in SEGMENT_SCHEMA.fields])
            .sortWithinPartitions("shard", "field", "term", "block_id")
            .write.mode("overwrite").partitionBy("shard").parquet(out_path))
        # champions: shuffles ONLY the (small) champion rows out of the
        # persisted frame — all shards of a term in one file, sorted, same
        # layout as the standalone write_champions
        (enc.filter(F.col("kind") == 1)
            .select(F.col("field"), F.col("term"), F.col("shard"),
                    F.col("n_total"), F.col("n_champ"),
                    F.col("c_n_blocks").alias("n_blocks"),
                    F.col("c_doc_ids").alias("doc_ids"),
                    F.col("c_tfs").alias("tfs"),
                    F.col("c_dls").alias("dls"),
                    F.col("tail_tfnorm"), F.col("avgdl_build"), F.col("cf"))
            .repartition(max(8, parallelism), "field", "term")
            .sortWithinPartitions("field", "term", "shard")
            .write.mode("overwrite").parquet(champ_path))
        enc.unpersist()
        fsutil.write_json(
            fsutil.join(champ_path, "_CHAMPIONS_META.json"),
            {"format": 1, "cap": cap, "shard_span": span,
             "avgdl": {k: float(v) for k, v in avgdl.items()},
             "seconds": 0.0})  # fused into the encode pass (see meta below)
        ff_future.result()
    seconds = round(time.time() - t0, 3)

    # n_blocks without re-scanning the blob table: every (field, term,
    # shard) group has exactly one champion row carrying its block count
    ch = spark.read.parquet(champ_path)
    n_blocks = int(ch.agg(F.sum("n_blocks")).collect()[0][0] or 0)
    meta = {"format": 2, "shard_span": span, "block_size": BLOCK_SIZE,
            "n_blocks": n_blocks, "fastfields": True,
            "encode_seconds": seconds}
    fsutil.write_json(fsutil.join(out_path, "_SEGMENTS_META.json"), meta)
    # an in-place re-encode (tests with force=True; prod dirs are
    # immutable) must not leave stale driver-tier dataset/row caches
    from cantine_spark.execution import driverexec
    driverexec.invalidate_caches()
    return meta


def load_segments_meta(index_dir: str) -> dict:
    return fsutil.read_json(
        fsutil.join(index_dir, "segments", "_SEGMENTS_META.json"))
