"""Deterministic synthetic source-code corpus (FIXTURES.md §1).

Shape per BASELINE.json input_hint: (repo, path, commit, lang, content).
Replaces cantine's checked-in 295-recipe fixture
(reference: cantine/tests/sample_recipes.jsonlines,
cantine/tests/index_integration.rs:23-45) with a generator that is:

- deterministic per (seed, doc ordinal) — content derives only from the row
  ordinal, never from partitioning, so any cluster layout produces identical
  bytes (re-runnable, the resumability invariant needs this);
- distributed — built from spark.range(n) + one vectorized mapInPandas pass,
  so it scales to any row count without driver-side loops;
- adversarial on purpose: hot/skewed terms (code keywords), a zipf identifier
  vocabulary, one-doc rare terms, >40-char tokens (tokenizer must drop them),
  and repeated license-boilerplate phrases (phrase-query targets).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

SEED = 42

# Hot terms: stopword-like code keywords — deliberately skewed (appear in
# almost every doc, many times). These are the terms build-side salting and
# query-side block-max pruning must survive (SURVEY §7.4 risk 3).
HOT_TERMS = [
    "def", "return", "if", "else", "import", "for", "while", "class",
    "fn", "let", "mut", "pub", "void", "int", "static", "func", "var",
    "const", "self", "none", "true", "false",
]

LANGS = ["python", "rust", "java", "go", "js", "c", "md"]
# zipf-ish language mix
LANG_WEIGHTS = np.array([0.30, 0.18, 0.15, 0.12, 0.10, 0.09, 0.06])
EXT = {"python": "py", "rust": "rs", "java": "java", "go": "go",
       "js": "js", "c": "c", "md": "md"}

LICENSE_PHRASES = [
    "permission is hereby granted free of charge",
    "the software is provided as is without warranty",
    "redistribution and use in source and binary forms",
]

VOCAB_SIZE = 10_000

CORPUS_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
])


def _identifier_vocab(size: int = VOCAB_SIZE) -> list[str]:
    """Deterministic identifier vocabulary: ident0000..identNNNN plus a few
    composed names so terms share shapes with real code."""
    rng = np.random.default_rng(SEED)
    stems = ["parse", "build", "merge", "scan", "token", "index", "query",
             "score", "batch", "shard", "codec", "block", "field", "store"]
    out = []
    for i in range(size):
        s = stems[i % len(stems)]
        out.append(f"{s}{i:05d}" if rng.random() < 0.7 else f"{s}x{i:05d}v")
    return out


def _make_row(i: int, vocab: list[str], n_docs: int) -> tuple[str, str, str, str, str]:
    """Pure function of (SEED, i): one corpus row."""
    rng = np.random.default_rng((SEED << 32) ^ i)
    n_repos = max(4, n_docs // 64)
    repo = f"org{i % 7}/proj{(i * 2654435761 % n_repos)}"
    lang = LANGS[int(rng.choice(len(LANGS), p=LANG_WEIGHTS / LANG_WEIGHTS.sum()))]
    path = f"src/module_{i % 97}/file_{i}.{EXT[lang]}"
    commit = hashlib.sha1(f"{SEED}:{repo}:{path}".encode()).hexdigest()

    lines: list[str] = []
    n_lines = int(10 + rng.integers(0, 40))
    # zipf-distributed identifier draw (a=1.3 → heavy head)
    zipf_ids = np.minimum(rng.zipf(1.3, size=n_lines * 6) - 1, len(vocab) - 1)
    zi = iter(zipf_ids.tolist())
    for ln in range(n_lines):
        toks: list[str] = []
        # hot keywords: 2-4 per line → massive df/tf skew
        for _ in range(int(2 + rng.integers(0, 3))):
            toks.append(HOT_TERMS[int(rng.integers(0, len(HOT_TERMS)))])
        for _ in range(int(1 + rng.integers(0, 4))):
            toks.append(vocab[next(zi)])
        lines.append(" ".join(toks))
    # one-doc rare term (unique across corpus)
    lines.append(f"uniqterm{i:08d}")
    # >40-char token — tokenizer must drop it (tantivy LimitFilter(40))
    if i % 11 == 0:
        lines.append("x" * 64)
    # license boilerplate phrase blocks (phrase-query targets)
    if i % 5 == 0:
        lines.append(LICENSE_PHRASES[i % len(LICENSE_PHRASES)])
    if lang == "md":
        lines.insert(0, "# documentation header")
    return repo, path, commit, lang, "\n".join(lines)


def generate_corpus(spark: SparkSession, n_docs: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus of `n_docs` source files."""
    vocab = _identifier_vocab()
    parts = partitions or max(4, n_docs // 2000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_make_row(int(i), vocab, n_docs) for i in pdf["id"]]
            yield pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])

    return spark.range(0, n_docs, numPartitions=parts).mapInPandas(gen, CORPUS_SCHEMA)


def write_corpus(spark: SparkSession, n_docs: int, out_path: str) -> None:
    generate_corpus(spark, n_docs).write.mode("overwrite").parquet(out_path)


def _with_max_impact(corpus: DataFrame) -> DataFrame:
    """Add a per-doc static `_impact` column: the BM25 tf-normalization of
    the doc's MOST FREQUENT content term (dl-normalized with K1/B defaults
    and the corpus avgdl from one agg pass). For ANY query term t,
    tfnorm(tf_t, dl) ≤ tfnorm(max_tf, dl) = _impact — the doc's best
    possible per-term contribution, so ordering by _impact concentrates
    high-bound docs for EVERY term simultaneously (a per-term prior like
    raw length cannot — term density is luck; the max over terms is the
    quantity block maxima actually measure)."""
    from cantine_spark.analysis import tokens_udf
    from cantine_spark.execution.scoring import B, K1

    schema = T.StructType(list(corpus.schema.fields)
                          + [T.StructField("_max_tf", T.IntegerType()),
                             T.StructField("_dl", T.IntegerType())])

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            toks = pdf["_toks"]
            lens = toks.map(len).to_numpy(dtype=np.int64)
            max_tf = np.zeros(len(pdf), dtype=np.int32)
            nonzero = np.flatnonzero(lens)
            if len(nonzero):
                docs = np.repeat(np.arange(len(pdf)), lens)
                terms = np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks if len(t)])
                codes, uniq = pd.factorize(terms, sort=False)
                key = docs * np.int64(len(uniq)) + codes
                ukey, counts = np.unique(key, return_counts=True)
                np.maximum.at(max_tf, (ukey // len(uniq)).astype(np.int64),
                              counts.astype(np.int32))
            out = pdf.drop(columns=["_toks"]).copy()
            out["_max_tf"] = max_tf
            out["_dl"] = lens.astype(np.int32)
            yield out

    tok = corpus.withColumn("_toks", tokens_udf(F.col("content")))
    with_stats = tok.mapInPandas(stats, schema)
    # the avgdl agg is one extra tokenize pass over the source (opt-in cost
    # of this layout); it is the PRIOR'S constant, not the scoring avgdl
    # (the builder recomputes that exactly)
    row = with_stats.agg(F.avg("_dl")).collect()[0]
    avgdl = float(row[0] or 1.0) or 1.0
    tf = F.col("_max_tf").cast("double")
    impact = (tf * (K1 + 1.0)
              / (tf + K1 * (1.0 - B + B * F.col("_dl") / F.lit(avgdl))))
    return with_stats.withColumn("_impact", impact).drop("_max_tf", "_dl")


IMPACT_STRIPE = 1024  # = segments.BLOCK_SIZE * 8, the shard-span FLOOR, so
# every segment shard contains ≥ 1 full impact stripe regardless of corpus
# size or cluster parallelism (see with_doc_ids order="impact")


# monotonically_increasing_id() = (partition index << 33) + row index in
# the partition, so a partition's row index must stay below 2^33
_ROW_BITS = 33
_MAX_PARTITION_ROWS = 1 << _ROW_BITS


def _partition_offsets(counts: dict[int, int]) -> dict[int, int]:
    """First dense id of each range partition: the rows of every earlier
    partition. Raises before any id is assigned if a partition holds more
    rows than monotonically_increasing_id() can index."""
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        if counts[pid] >= _MAX_PARTITION_ROWS:
            raise ValueError(
                f"range partition {pid} holds {counts[pid]} rows; a dense "
                f"id needs fewer than 2^33 per partition")
        offsets[pid] = acc
        acc += counts[pid]
    return offsets


def _dense_rank(df: DataFrame, sort_cols: list, id_name: str,
                keep: list[T.StructField]) -> DataFrame:
    """Dense 0..n-1 rank over sort_cols, as `id_name`, keeping `keep`
    fields. Scalable two-pass scheme (no single-partition window):
    range-partition by the key and cache it, count rows per partition on
    the driver, then compute each id in the JVM as the row's index within
    its cached partition plus that partition's offset. No row crosses to
    Python here, so a Python stage that consumes the ids (the build's
    tokenize pass) runs one Python worker per task, not two."""
    parts = df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(parts, *sort_cols) \
               .sortWithinPartitions(*sort_cols) \
               .select(*[f.name for f in keep]) \
               .withColumn("_pid", F.spark_partition_id())
    # cache the ranged frame: the count below materializes it once, and the
    # id pass reads from cache instead of re-running the source (which may
    # itself be a Python stage) plus the range-sampling job
    ranged = ranged.persist()
    offsets = _partition_offsets(
        {r["_pid"]: r["cnt"] for r in
         ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()})
    index = (F.monotonically_increasing_id()
             - F.shiftleft(F.spark_partition_id().cast("long"), _ROW_BITS))
    offset = F.lit(0).cast("long")
    if offsets:
        by_pid = F.create_map(*[c for pid, off in offsets.items()
                                for c in (F.lit(pid), F.lit(off).cast("long"))])
        # coalesce keeps doc_id non-nullable: every cached row's _pid is
        # a key of the map
        offset = F.coalesce(by_pid[F.col("_pid")], offset)

    # NOTE: ranged stays persisted until the session drops it (LRU) — the
    # returned frame is lazy and downstream consumers (builder stages, the
    # second striping pass) read it repeatedly; an eager unpersist here
    # would silently recompute the whole source lineage per consumer. The
    # ids follow the cached row order, which is the sort order.
    return ranged.select((index + offset).alias(id_name),
                         *[f.name for f in keep])


def with_doc_ids(corpus: DataFrame, order: str = "identity") -> DataFrame:
    """Assign the global dense doc_id = rank over the chosen layout.

    order="identity" (default): rank over (repo, path) — stable ingest
    order, the layout every oracle-checked entry uses.

    order="impact": STRIPED impact layout for hot-term block-max pruning
    (VERDICT r4 'What's missing' #3). Two steps:

    1. rank docs by static impact DESCENDING — impact = the BM25
       tf-normalization of the doc's most frequent term (_with_max_impact),
       an upper bound of ANY single term's contribution in that doc;
    2. stripe the ranking: impact-rank r maps to stripe r mod S
       (S = ⌈n/1024⌉), position r div S — doc_id = dense rank of
       (stripe, position).

    Why striping, not a plain global sort: query kernels compute top-k PER
    DOC-RANGE SHARD and merge — under a global impact sort each shard is
    impact-HOMOGENEOUS, its own θ sits at its own block maxima, and nothing
    prunes (measured: 0.95 → 0.96 scored at 100k docs). A stripe is a
    1-in-S stratified sample of the whole impact distribution, sorted
    descending within — so EVERY shard (span ≥ 1024 = the stripe width, by
    the segment-span floor) sees near-global-max impacts early, its θ rises
    to global levels, and each stripe's low-impact TAIL blocks fall under
    it. Block maxima then decay within every stripe instead of being
    uniformly near-max (an Anh&Moffat-style static ordering adapted to
    partitioned top-k). The layout is a build-time permutation only —
    cursor/merge semantics see just another fixed doc_id ordering, and the
    pruned-vs-unpruned suite pins losslessness per layout
    (tests/test_impact_order.py). Costs one extra tokenization pass and one
    extra rank shuffle at build time.

    Deterministic: impact ties break on (repo, path), which is unique.
    Reference analog: tantivy's segment-local DocId + segment_ord
    (SURVEY §1.4) — we use one global dense id instead.
    """
    base_fields = list(corpus.schema.fields)
    if order in ("identity", None):
        return _dense_rank(corpus,
                           [F.col("repo"), F.col("path")],
                           "doc_id", base_fields)
    if order != "impact":
        raise ValueError(f"unknown doc-id order {order!r} "
                         "(expected 'identity' or 'impact')")
    scored = _with_max_impact(corpus)
    ranked = _dense_rank(
        scored,
        [F.col("_impact").desc(), F.col("repo"), F.col("path")], "_r",
        [f for f in scored.schema.fields if f.name != "_impact"])
    n = ranked.count()
    stripes = max(1, -(-n // IMPACT_STRIPE))  # ceil
    striped = (ranked
               .withColumn("_stripe", F.col("_r") % stripes)
               .withColumn("_pos", (F.col("_r") / stripes).cast("long")))
    out = _dense_rank(striped, [F.col("_stripe"), F.col("_pos")],
                      "doc_id", base_fields)
    return out
