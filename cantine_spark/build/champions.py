"""Per-term champion sidecars — impact-ordered posting heads.

Hot-term top-k is the one shape block-max pruning cannot serve on this
corpus: BM25 tf-normalization saturates, so with ingest-ordered (or ANY
statically permuted — measured, docs/impact_layout.md) doc ids nearly
every 128-posting block holds a near-max-tfnorm doc and the kernel scores
~everything (BENCH_r04: q_hot_term 96.9% blocks scored). The classic IR
answer is per-TERM impact ordering (Anh & Moffat, SIGIR 2006; "champion
lists" / top-docs, Manning IIR §7.1.3): store, per (field, term, shard),
the top-C postings by tf-normalization, so a relevance-ranked single-term
query reads O(C) postings per shard instead of decoding every block.

This sidecar is derived FROM the segments table (one decode pass, no
positions), written once per (re)encode next to `segments/`:

  champions/: field, term, shard, n_total, n_champ, n_blocks,
              doc_ids (<u8 LE), tfs (<u4), dls (<u4),
              tail_tfnorm, avgdl_build

Losslessness under avgdl drift (tiered serving recomputes global avgdl as
generations land): tfnorm(tf, dl, avgdl) is monotone increasing in avgdl
with tfnorm(a_now)/tfnorm(a_build) ≤ max(1, a_now/a_build) for every
(tf, dl) [same monotonicity algebra as the tiered block-max rescale,
tiered.py module docstring]. So for any NON-champion posting,

  score_now ≤ idf_now · tail_tfnorm · max(1, avgdl_now/avgdl_build)

and the query kernel serves from champions only when its k-th f32 score
strictly beats that bound (execution/wand.py champion path) — otherwise it
falls back to the full block path. Every group gets a row: rare terms
(n ≤ C) are stored COMPLETE (tail_tfnorm = 0, bound auto-passes), so rare
single-term queries are answered without touching blocks at all.

Scale: min(C, n) postings per (field, term, shard) at 16 B/posting — the
sum over all groups is bounded by 16 B × total postings, in practice a
small fraction of the segments table (hot terms truncate at C; positions
blobs dominate everything else). Reference parity note: tantivy itself has
no champion lists (it visits every match, tique top_collector.rs:228-237);
this is beyond-reference work on the reference's own hot-term weakness.
"""

from __future__ import annotations

import json
import os
import time

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from cantine_spark import fsutil
from pyspark.sql import types as T

from cantine_spark.build.codec import decode_varint
from cantine_spark.execution.scoring import B, K1

CHAMP_COUNT = 256

CHAMPIONS_SCHEMA = T.StructType([
    T.StructField("field", T.StringType(), False),
    T.StructField("term", T.StringType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("n_total", T.LongType(), False),
    T.StructField("n_champ", T.IntegerType(), False),
    T.StructField("n_blocks", T.IntegerType(), False),
    T.StructField("doc_ids", T.BinaryType(), False),
    T.StructField("tfs", T.BinaryType(), False),
    T.StructField("dls", T.BinaryType(), False),
    T.StructField("tail_tfnorm", T.DoubleType(), False),
    T.StructField("avgdl_build", T.DoubleType(), False),
    # collection frequency of the group (Σtf over ALL its postings, not
    # just the champion heads) — term_stats derives from this small table
    # (df = Σ n_total, cf = Σ cf over shards, builder.write_term_stats)
    T.StructField("cf", T.LongType(), False),
])


def _decode_concat(blobs: list) -> tuple[np.ndarray, np.ndarray]:
    """Decode a list of LEB128 blobs in ONE vectorized pass. The stream is
    self-delimiting, so decoding the concatenation yields the same values;
    per-blob value counts come from summing terminal bytes within each
    blob's byte range. Returns (values, counts)."""
    buf = b"".join(blobs)
    vals = decode_varint(buf)
    lens = np.fromiter((len(x) for x in blobs), np.int64, len(blobs))
    ends = np.cumsum(lens)
    b = np.frombuffer(buf, dtype=np.uint8)
    cum_last = np.cumsum((b & 0x80) == 0)
    cnt_end = np.where(ends > 0, cum_last[np.maximum(ends - 1, 0)], 0)
    counts = np.diff(np.concatenate([[0], cnt_end]))
    return vals, counts


def _champions_sorted(pdf: pd.DataFrame, avgdl: dict, cap: int) -> pd.DataFrame:
    """(field, term, shard, block_id)-sorted block rows → one champion row
    per (field, term, shard) group. Batch-vectorized: ONE varint decode
    over the whole batch, grouped cumsum for delta→doc_id, one global
    lexsort with rank-within-group head selection (the original per-group
    loop paid ~300k small numpy calls per 50k-doc build — 3× slower,
    differential-tested bit-equal before the swap)."""
    n = len(pdf)
    cols = [x.name for x in CHAMPIONS_SCHEMA.fields]
    if n == 0:
        return pd.DataFrame([], columns=cols)
    f = pdf["field"].to_numpy()
    t = pdf["term"].to_numpy()
    sh = pdf["shard"].to_numpy()
    change = np.ones(n, dtype=bool)
    change[1:] = (f[1:] != f[:-1]) | (t[1:] != t[:-1]) | (sh[1:] != sh[:-1])
    gid = np.cumsum(change) - 1                     # group id per block row
    n_groups = int(gid[-1]) + 1
    blocks_per_group = np.bincount(gid, minlength=n_groups)

    deltas, counts = _decode_concat(pdf["doc_deltas"].tolist())
    tfs, _ = _decode_concat(pdf["tfs"].tolist())
    dls, _ = _decode_concat(pdf["dls"].tolist())

    # per-BLOCK delta → doc_id (grouped cumsum: reset at each block start)
    run = np.cumsum(deltas)
    vstart = np.concatenate([[0], np.cumsum(counts)[:-1]]).astype(np.int64)
    base = np.zeros(len(counts), dtype=np.uint64)
    nz = vstart > 0
    base[nz] = run[vstart[nz] - 1]
    block_of_val = np.repeat(np.arange(len(counts)), counts)
    docs = (run - base[block_of_val]).astype(np.int64)

    # tfnorm per value (avgdl by the block's field)
    av_block = np.fromiter((avgdl[x] for x in f), np.float64, n)
    av_val = av_block[block_of_val]
    tfd = tfs.astype(np.float64)
    tfn = tfd * (K1 + 1.0) / (
        tfd + K1 * (1.0 - B + B * dls.astype(np.float64) / av_val))

    # top-C per group by (tfnorm desc, doc asc): one global lexsort, then
    # rank-within-group selects heads and the (C+1)-th tail bound
    gov = gid[block_of_val]
    order = np.lexsort((docs, -tfn, gov))
    g_sorted = gov[order]
    gchange = np.ones(len(order), dtype=bool)
    gchange[1:] = g_sorted[1:] != g_sorted[:-1]
    gstart = np.flatnonzero(gchange)
    gsize = np.diff(np.append(gstart, len(order)))
    rank = np.arange(len(order)) - np.repeat(gstart, gsize)

    ord_head = order[rank < cap]
    docs_h = docs[ord_head].astype("<u8")
    tfs_h = tfs[ord_head].astype("<u4")
    dls_h = dls[ord_head].astype("<u4")
    n_champ = np.minimum(gsize, cap)
    hstart = np.concatenate([[0], np.cumsum(n_champ)[:-1]]).astype(np.int64)
    tails = np.zeros(n_groups, dtype=np.float64)
    has_tail = gsize > cap
    tails[has_tail] = tfn[order[gstart[has_tail] + cap]]

    cf = np.bincount(gov, weights=tfs.astype(np.float64),
                     minlength=n_groups).astype(np.int64)
    grow = np.flatnonzero(change)  # first block row of each group
    out = []
    for g in range(n_groups):
        s, e = hstart[g], hstart[g] + n_champ[g]
        i = grow[g]
        out.append((f[i], t[i], int(sh[i]), int(gsize[g]), int(n_champ[g]),
                    int(blocks_per_group[g]),
                    docs_h[s:e].tobytes(), tfs_h[s:e].tobytes(),
                    dls_h[s:e].tobytes(), float(tails[g]),
                    float(av_block[i]), int(cf[g])))
    return pd.DataFrame(out, columns=cols)


def champions_from_postings(pdf: pd.DataFrame, avgdl: dict,
                            cap: int) -> pd.DataFrame:
    """Champion rows straight from RAW posting rows (the fused build path,
    r7): the segment encoder already holds every (field, term, shard)
    group's (doc_id, tf, dl) arrays sorted by doc — computing the top-C
    heads there skips the standalone sidecar job's segments re-read,
    re-shuffle and varint re-decode entirely. Selection math is identical
    to _champions_sorted (same tfnorm dtype path: integer tf/dl →
    float64; same lexsort keys and tie order), pinned bit-equal by
    tests/test_champions.py::test_fused_equals_standalone_sidecar.

    `pdf` must have each (field, term, shard) group contiguous with
    doc_id ascending within the group — the encoder's input order."""
    n = len(pdf)
    cols = [x.name for x in CHAMPIONS_SCHEMA.fields]
    if n == 0:
        return pd.DataFrame([], columns=cols)
    f = pdf["field"].to_numpy()
    t = pdf["term"].to_numpy()
    sh = pdf["shard"].to_numpy()
    docs = pdf["doc_id"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["dl"].to_numpy(np.int64)
    change = np.ones(n, dtype=bool)
    change[1:] = (f[1:] != f[:-1]) | (t[1:] != t[:-1]) | (sh[1:] != sh[:-1])
    gid = np.cumsum(change) - 1
    n_groups = int(gid[-1]) + 1
    gsize_all = np.bincount(gid, minlength=n_groups)

    from cantine_spark.build.segments import BLOCK_SIZE  # noqa: PLC0415
    n_blocks = -(-gsize_all // BLOCK_SIZE)  # ceil — encoder splits at 128

    av_val = np.fromiter((avgdl[x] for x in f), np.float64, n)
    tfd = tfs.astype(np.float64)
    tfn = tfd * (K1 + 1.0) / (
        tfd + K1 * (1.0 - B + B * dls.astype(np.float64) / av_val))

    order = np.lexsort((docs, -tfn, gid))
    g_sorted = gid[order]
    gchange = np.ones(n, dtype=bool)
    gchange[1:] = g_sorted[1:] != g_sorted[:-1]
    gstart = np.flatnonzero(gchange)
    gsize = np.diff(np.append(gstart, n))
    rank = np.arange(n) - np.repeat(gstart, gsize)

    ord_head = order[rank < cap]
    docs_h = docs[ord_head].astype("<u8")
    tfs_h = tfs[ord_head].astype("<u4")
    dls_h = dls[ord_head].astype("<u4")
    n_champ = np.minimum(gsize, cap)
    hstart = np.concatenate([[0], np.cumsum(n_champ)[:-1]]).astype(np.int64)
    tails = np.zeros(n_groups, dtype=np.float64)
    has_tail = gsize > cap
    tails[has_tail] = tfn[order[gstart[has_tail] + cap]]
    cf = np.bincount(gid, weights=tfd, minlength=n_groups).astype(np.int64)

    grow = np.flatnonzero(change)  # first posting row of each group
    # columnar assembly (a per-group tuple loop measured ~1.5 s per 300k
    # groups): the head arrays are contiguous in group order, so each
    # group's blob is a byte-range of one tobytes() buffer
    doc_b, tf_b, dl_b = docs_h.tobytes(), tfs_h.tobytes(), dls_h.tobytes()
    hend = hstart + n_champ
    return pd.DataFrame({
        "field": f[grow], "term": t[grow],
        "shard": sh[grow],
        "n_total": gsize.astype(np.int64),
        "n_champ": n_champ.astype(np.int32),
        "n_blocks": n_blocks.astype(np.int32),
        "doc_ids": [doc_b[a:b] for a, b in zip(hstart * 8, hend * 8)],
        "tfs": [tf_b[a:b] for a, b in zip(hstart * 4, hend * 4)],
        "dls": [dl_b[a:b] for a, b in zip(hstart * 4, hend * 4)],
        "tail_tfnorm": tails,
        "avgdl_build": av_val[grow],
        "cf": cf,
    }, columns=cols)


def _champion_batches(avgdl: dict, cap: int):
    """mapInPandas with group carry-over (same pattern as the segment
    encoder): Arrow batches may split a (field, term, shard) group, so the
    trailing group of each batch is held back and prepended to the next."""

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
            yield _champions_sorted(pdf.iloc[:cut], avgdl, cap)
        if pending is not None and len(pending):
            yield _champions_sorted(pending, avgdl, cap)

    return gen


def champion_cap(shard_span: int) -> int:
    """Coverage-PROPORTIONAL champion cap (r6): a fixed C=256 was tuned at
    span≈400 (50k docs / 128 shards), where heads cover ~65% of a hot
    term's shard postings and the tail bound discriminates. At span 6250
    (800k docs) the same C covers 4%, the tail sits at the distribution's
    saturated shoulder, and NO bound can separate near-top docs (measured:
    perfect-θ survivors 163 → 138/143 blocks at C=256 vs 12 → 30/143 at
    C=1024, BENCH.md r6). cap = span/6 keeps head coverage ≈ constant
    (~17% of a df≈span term, well past the shoulder) at any scale; the
    sidecar stays ≤ ~16 B × postings/6 — the classic space-for-latency
    trade, and the scaling knob that makes champion pruning span-stable."""
    return max(CHAMP_COUNT, shard_span // 6)


def write_champions(spark: SparkSession, index_dir: str,
                    avgdl: dict, shard_span: int,
                    cap: int | None = None) -> dict:
    """Derive the champion sidecar from the segments table. One pass:
    segments (positions column pruned out of the scan) → repartition by
    (field, term, shard) → vectorized decode + top-C per group →
    hash-partitioned by (field, term) — all shards of a term in ONE file,
    sorted, so a query's term lookup prunes to one file's ~one row group
    via parquet min/max stats (repartitionByRange would sample = run the
    decode twice). cap=None → champion_cap(shard_span), the span-stable
    coverage-proportional default."""
    if cap is None:
        cap = champion_cap(shard_span)
    seg = (spark.read.parquet(os.path.join(index_dir, "segments"))
           .select("field", "term", "shard", "block_id",
                   "doc_deltas", "tfs", "dls"))
    parallelism = spark.sparkContext.defaultParallelism
    out_path = os.path.join(index_dir, "champions")
    t0 = time.time()
    (seg.repartition(max(8, parallelism * 2), "field", "term", "shard")
        .sortWithinPartitions("field", "term", "shard", "block_id")
        .mapInPandas(_champion_batches(avgdl, cap), CHAMPIONS_SCHEMA)
        .repartition(max(8, parallelism), "field", "term")
        .sortWithinPartitions("field", "term", "shard")
        .write.mode("overwrite").parquet(out_path))
    meta = {"format": 1, "cap": cap, "shard_span": shard_span,
            "avgdl": {k: float(v) for k, v in avgdl.items()},
            "seconds": round(time.time() - t0, 3)}
    fsutil.write_json(fsutil.join(out_path, "_CHAMPIONS_META.json"), meta)
    from cantine_spark.execution import driverexec
    driverexec.invalidate_caches()
    return meta


def load_champions_meta(index_dir: str) -> dict | None:
    p = fsutil.join(index_dir, "champions", "_CHAMPIONS_META.json")
    try:
        return fsutil.read_json(p)
    except Exception:  # noqa: BLE001 — missing/unreadable on any filesystem
        return None
