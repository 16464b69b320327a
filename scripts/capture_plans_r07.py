"""Capture .explain('formatted') plans for the r7 optimization evidence.

Usage:
  PYTHONPATH=<tree> python scripts/capture_plans_r07.py <out_dir> <suffix>

Run once with the legacy tree (suffix 'before') and once with the new tree
(suffix 'after'); the judge diffs plans/r07/<name>_{before,after}.txt.
Captures the build-stage write inputs (the plans whose Exchanges the r7
build restructure removed) and the bench queries' cluster-kernel plans.
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from cantine_spark.build import builder as B
    from cantine_spark.build.builder import IndexBuilder, build_index
    from cantine_spark.corpus import generate_corpus, with_doc_ids
    from cantine_spark.session import get_spark

    spark = get_spark("plans-r07", cores=8, shuffle_partitions=8)
    idx = tempfile.mkdtemp(prefix="plans_idx_")
    corpus = with_doc_ids(generate_corpus(spark, 2000, partitions=8))
    build_index(spark, corpus, idx)

    ib = IndexBuilder(spark, idx)
    tokenized = spark.read.parquet(os.path.join(idx, "tokenized"))
    plans: dict[str, str] = {}

    # the frames each build stage WRITES (sort/shuffle shape is the claim)
    new_style = hasattr(B, "DOCMETA_COLS")
    if new_style:  # r7 tree
        plans["build_docs"] = fmt(
            ib._docs_df(tokenized).sortWithinPartitions("doc_id"))
        plans["build_docmeta"] = fmt(
            ib._docmeta_df(tokenized).sortWithinPartitions("doc_id"))
    else:  # legacy tree
        par = spark.sparkContext.defaultParallelism
        plans["build_docs"] = fmt(
            ib._docs_df(tokenized.drop(
                *[f"_{f}_tokens" for f in B.TEXT_FIELDS]))
            .repartitionByRange(max(4, par), "doc_id")
            .sortWithinPartitions("doc_id"))
        plans["build_docmeta"] = fmt(
            ib._docmeta_df(tokenized)
            .repartitionByRange(max(4, par // 2), "doc_id")
            .sortWithinPartitions("doc_id"))

    # segments encode input→output shape (2 Exchange → 1 claim); a tree
    # without a written posting table encodes the invert lineage
    from cantine_spark.build import segments as S
    postings = (B.invert_postings(tokenized) if hasattr(B, "invert_postings")
                else spark.read.parquet(os.path.join(idx, "postings")))
    meta = S.load_segments_meta(idx)
    span = int(meta["shard_span"])
    stats = spark.read.parquet(os.path.join(idx, "index_stats")).collect()
    avgdl = {r["field"]: float(r["avgdl"]) for r in stats}
    par = spark.sparkContext.defaultParallelism
    if hasattr(S, "COMBINED_SCHEMA"):  # r7 tree
        from cantine_spark.build.champions import champion_cap
        keyed = postings.select(
            "field", "term", "doc_id", "tf", "dl", "positions",
            (F.col("doc_id") / F.lit(span)).cast("int").alias("shard"))
        enc = (keyed.repartition(
                   max(8, par * 2), "shard",
                   F.pmod(F.xxhash64("field", "term"), F.lit(S.ENC_SALT)))
               .sortWithinPartitions("shard", "field", "term", "doc_id")
               .mapInPandas(S._encode_combined_batches(
                   avgdl, champion_cap(span)), S.COMBINED_SCHEMA))
        plans["build_segments"] = fmt(
            enc.filter(F.col("kind") == 0)
            .select(*[f.name for f in S.SEGMENT_SCHEMA.fields])
            .sortWithinPartitions("shard", "field", "term", "block_id"))
    else:  # legacy tree
        keyed = postings.withColumn(
            "shard", (F.col("doc_id") / F.lit(span)).cast("int"))
        plans["build_segments"] = fmt(
            keyed.repartition(max(8, par * 2), "field", "term", "shard")
            .sortWithinPartitions("field", "term", "shard", "doc_id")
            .mapInPandas(S._encode_batches(avgdl), S.SEGMENT_SCHEMA)
            .repartition(max(8, par), "shard")
            .sortWithinPartitions("shard", "field", "term", "block_id"))

    # bench queries: the CLUSTER kernel job plan (the driver tier runs zero
    # Spark jobs — FastTopK.last_job is the plan evidence for the forced-
    # cluster leg, which is unchanged by design)
    from cantine_spark.api import SearchEngine
    from cantine_spark.index import IndexReader
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    from bench import BENCH_QUERIES

    eng = SearchEngine(IndexReader(spark, idx), use_driver=False)
    for name, q in BENCH_QUERIES:
        eng.search(dict(q))
        job = eng._fast.last_job  # a plain RDD job: its lineage, no plan
        if job is not None:
            plans[name + "_cluster"] = job.toDebugString().decode()

    for name, text in plans.items():
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(text)
    print("wrote", len(plans), "plans to", out_dir, "suffix", suffix)
    spark.stop()


if __name__ == "__main__":
    main()
