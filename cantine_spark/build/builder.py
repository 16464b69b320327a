"""Index build pipeline — the Spark-first analog of cantine's loader.

Reference lifecycle (cantine/src/bin/load.rs:49-115): stdin JSON lines →
4 producer threads tokenizing into an in-RAM tantivy segment → disk-writer
thread appending the doc store → commit every 300k docs. Here the same
stages are declarative DataFrame jobs; "commit" = a checkpointed stage with
a lineage manifest (resumable — SURVEY §7.4 risk 6).

Tables written under <index_dir>/ (parquet; Iceberg would add snapshot
metadata but its jars are absent in this image — every table is instead
point-readable on its key columns through the driver's per-file key
directory, execution/driverexec.py, and sorted row groups):

  docs/        doc_id, uuid, repo, path, commit, lang, content, content_sha256
               — the doc store (S5/S7). sha256 column carries the per-row
               invariant from BASELINE input_hint. It is also the cursor
               resolve's uuid → doc_id dictionary (keyed on uuid).
  docmeta/     doc_id + per-field doc lengths + numeric features (FIXTURES §2)
               — the "fast fields" (tantivy FAST flag, index.rs:193,199-200):
               parquet is already columnar, sort/filter/agg prune columns.
  segments/    the inverted index: compressed block-max posting blocks with
               positions (build/segments.py), plus the champions/ and
               fastfields/ sidecars written in the same stage. It is the one
               index format every query runs on. champions/ holds one row
               per (field, term, shard) with n_total and cf, so it is also
               the term dictionary: df = Σ n_total and cf = Σ cf per
               (field, term) (A7; IndexReader.term_stats).
  index_stats/ one row per field: n_docs, total_len, avgdl (C1 inputs).
  manifest.json  lineage + per-stage metrics.

r7 pipeline shape (optimization guide §1/§2.4/§2.6 — fewer passes, fewer
shuffles, overlapped independent jobs; per-stage numbers in
OPTIMIZATION_r07.md):

  tokenized/   ONE fused mapInPandas pass per corpus partition emits the
               analyzed tokens (space-joined strings — a list<string>
               column costs ~10× through Arrow + parquet list assembly)
               PLUS every docmeta numeric feature, computed vectorized in
               the same batch that already holds the token lists. The
               docs/docmeta stages are then pure column selects of this
               table — the old JVM array-ops re-computation (which ran
               TWICE per stage: once for repartitionByRange's sampling
               pass, once for the write) is gone, and so are both range
               shuffles: tokenized partitions are already doc_id-ordered
               (doc_id = dense rank materialized upstream), so a local
               sort keeps parquet min/max pruning intact.
  docs / docmeta run CONCURRENTLY on driver threads with the segments
               chain (all read only tokenized/): Spark back-fills the tail
               of one job's stage with the next job's tasks (FIFO
               scheduling).
  segments stage: the posting rows are an in-flight lineage (one
               vectorized invert pass over tokenized/, never written) fed
               to the single-shuffle fused encode — see build/segments.py.

Skew (SURVEY §7.4 risk 3): hot terms (code keywords) concentrate rows in a
few (field, term) keys. The segment encode key includes shard, so a
stopword's postings split over all doc shards. Per-shard posting counts
land in the manifest (`postings_per_shard`).
"""

from __future__ import annotations

import hashlib
import logging
import os
import time
from concurrent.futures import ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from cantine_spark import fsutil

_log = logging.getLogger(__name__)

TEXT_FIELDS = ("content", "path")  # multi-field index (C6 analog of
# cantine's name/ingredients/instructions, cantine/src/index.rs:195-197)

# docmeta column order — pinned (features derive from this schema at open)
DOCMETA_COLS = (
    "doc_id", "repo", "path", "lang", "doc_len_content", "doc_len_path",
    "num_tokens", "num_lines", "content_bytes", "num_functions",
    "num_imports", "comment_ratio", "avg_line_len", "max_line_len")

# fused tokenize+features output (stage "tokenized"): original corpus
# columns + joined-token strings + every docmeta numeric
TOKFEAT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
    T.StructField("content", T.StringType(), False),
    T.StructField("_content_tokens", T.StringType(), False),
    T.StructField("_path_tokens", T.StringType(), False),
    T.StructField("doc_len_content", T.LongType(), False),
    T.StructField("doc_len_path", T.LongType(), False),
    T.StructField("num_tokens", T.LongType(), False),
    T.StructField("num_lines", T.LongType(), False),
    T.StructField("content_bytes", T.LongType(), False),
    T.StructField("num_functions", T.LongType(), True),
    T.StructField("num_imports", T.LongType(), True),
    T.StructField("comment_ratio", T.DoubleType(), True),
    T.StructField("avg_line_len", T.DoubleType(), False),
    T.StructField("max_line_len", T.LongType(), False),
])

_KEYWORDS = frozenset(("def", "fn", "func"))
_IMPORTS = frozenset(("import", "include", "use"))


def _tokfeat_batches(batches):
    """Tokenize + per-doc numeric features, one vectorized pass (the token
    lists are in hand here, so counting over them is free compared to the
    old separate JVM array-ops stage). Tokens serialize as space-joined
    strings: the token alphabet is [^\\W_]+ so no token can contain
    whitespace and `s.split()` round-trips exactly ([] for empty).
    Feature semantics are bit-for-bit the old _docmeta_df expressions
    (F.length = char counts; F.split keeps trailing empties like
    str.split("\\n"); long/long division is IEEE double both here and in
    Spark SQL) — pinned by tests/test_build_equivalence.py."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    from cantine_spark.analysis import tokenize_series  # noqa: PLC0415

    for pdf in batches:
        n = len(pdf)
        if n == 0:
            continue
        content = pdf["content"]
        ctoks = tokenize_series(content)
        ptoks = tokenize_series(pdf["path"])
        dl_c = np.fromiter((len(t) for t in ctoks), np.int64, n)
        dl_p = np.fromiter((len(t) for t in ptoks), np.int64, n)
        n_kw = np.fromiter(
            (sum(t in _KEYWORDS for t in ts) for ts in ctoks), np.int64, n)
        n_imp = np.fromiter(
            (sum(t in _IMPORTS for t in ts) for ts in ctoks), np.int64, n)
        lines = [s.split("\n") for s in content]
        n_lines = np.fromiter((len(ls) for ls in lines), np.int64, n)
        sum_ll = np.fromiter(
            (sum(len(l) for l in ls) for ls in lines), np.int64, n)
        max_ll = np.fromiter(
            (max(len(l) for l in ls) for ls in lines), np.int64, n)
        n_comment = np.fromiter(
            (sum(l.startswith("#") for l in ls) for ls in lines), np.int64, n)
        is_md = (pdf["lang"] == "md").to_numpy()

        num_functions = pd.array(n_kw, dtype="Int64")
        num_functions[is_md] = pd.NA
        num_imports = pd.array(n_imp, dtype="Int64")
        num_imports[is_md] = pd.NA
        comment_ratio = n_comment / np.maximum(n_lines, 1).astype(np.float64)
        comment_ratio = pd.array(comment_ratio, dtype="Float64")
        comment_ratio[is_md] = pd.NA

        yield pd.DataFrame({
            "doc_id": pdf["doc_id"].to_numpy(np.int64),
            "repo": pdf["repo"], "path": pdf["path"],
            "commit": pdf["commit"], "lang": pdf["lang"],
            "content": content,
            "_content_tokens": [" ".join(t) for t in ctoks],
            "_path_tokens": [" ".join(t) for t in ptoks],
            "doc_len_content": dl_c,
            "doc_len_path": dl_p,
            "num_tokens": dl_c,
            "num_lines": n_lines,
            "content_bytes": content.str.len().to_numpy(np.int64),
            "num_functions": num_functions,
            "num_imports": num_imports,
            "comment_ratio": comment_ratio,
            "avg_line_len": sum_ll / np.maximum(n_lines, 1),
            "max_line_len": max_ll,
        })


def _stage_marker(path: str) -> str:
    return os.path.join(path, "_STAGE_OK.json")


def _stage_done(path: str, fingerprint: str) -> bool:
    try:
        return (fsutil.read_json(_stage_marker(path))
                .get("fingerprint") == fingerprint)
    except Exception:  # noqa: BLE001 — absent/unreadable on any filesystem
        return False


def _mark_stage(path: str, fingerprint: str, metrics: dict) -> None:
    fsutil.write_json(_stage_marker(path),
                      {"fingerprint": fingerprint, "metrics": metrics,
                       "completed_at": time.time()})


def write_index_stats(dest: str, rows: list[tuple]) -> None:
    """Write the per-field stats table (field, n_docs, total_len, avgdl)
    straight from the driver with pyarrow. It is TEXT_FIELDS rows — routing
    it through a Spark job costs a full Python-worker spawn in the build
    profile (worker.reuse=false; measured 6.5-8 s for the 2-row frame vs
    ~0.01 s here, ~15% of the whole 50k build). spark.read.parquet reads
    the directory identically.

    Routed through pyarrow.fs (fsutil.resolve) so the driver-side write
    works on any destination the replaced .write.parquet supported —
    hdfs://, s3a://, file:// — not just local paths (r5 ADVICE)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs

    fsys, path = fsutil.resolve(dest)
    if fsys.get_file_info(path).type != pafs.FileType.NotFound:
        fsys.delete_dir(path)
    fsys.create_dir(path, recursive=True)
    table = pa.table(
        {"field": pa.array([r[0] for r in rows], pa.string()),
         "n_docs": pa.array([r[1] for r in rows], pa.int64()),
         "total_len": pa.array([r[2] for r in rows], pa.int64()),
         "avgdl": pa.array([r[3] for r in rows], pa.float64())})
    pq.write_table(table, fsutil.join(path, "part-00000.parquet"),
                   filesystem=fsys)


def invert_postings(tokenized: DataFrame) -> DataFrame:
    """(field, term, doc_id, tf, dl, positions) posting rows of the
    tokenized table — one frame per text field, unioned — the segment
    encoder's input (build_segments); never written as a table. The
    (doc_id, term) grouping is PER-DOCUMENT, so it needs no shuffle: one
    vectorized mapInPandas pass per partition emits finished posting rows
    (numpy stable-sort + boundary detection — the classic SPIMI in-memory
    inversion).

    dl is denormalized per posting: the segment blocks store it, so BM25
    at query time never joins docmeta (Lucene/tantivy norms do the
    same)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    out_schema = T.StructType([
        T.StructField("field", T.StringType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("tf", T.IntegerType(), False),
        T.StructField("dl", T.IntegerType(), False),
        # positions packed as little-endian int32 bytes: a list<int>
        # column here costs ~10× in Arrow transfer + shuffle + parquet
        # list assembly (measured — it dominated the whole build);
        # the kernel's phrase path slices them per block
        T.StructField("positions", T.BinaryType(), False),
    ])
    fields = list(TEXT_FIELDS)

    def invert(batches):
        for pdf in batches:
            outs = []
            for fld in fields:
                # tokens stored space-joined; split() round-trips
                # exactly (token alphabet excludes whitespace)
                toks = [s.split() for s in pdf[f"_{fld}_tokens"]]
                lens = np.fromiter((len(t) for t in toks),
                                   np.int64, len(toks))
                total = int(lens.sum())
                if total == 0:
                    continue
                docs = np.repeat(pdf["doc_id"].to_numpy(np.int64), lens)
                dls = np.repeat(lens, lens).astype(np.int32)
                terms = np.concatenate(
                    [np.asarray(t, dtype=object) for t in toks if len(t)])
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                pos = (np.arange(total, dtype=np.int64)
                       - np.repeat(starts, lens)).astype(np.int32)
                codes, uniq = pd.factorize(terms, sort=False)
                # group key (doc, term-code); stable sort keeps positions
                # ascending within each group
                key = docs * np.int64(len(uniq)) + codes
                order = np.argsort(key, kind="stable")
                key_s = key[order]
                bounds = np.flatnonzero(np.diff(key_s)) + 1
                g_starts = np.concatenate(([0], bounds))
                g_ends = np.concatenate((bounds, [len(key_s)]))
                pos_sorted = np.ascontiguousarray(
                    pos[order], dtype="<i4")
                raw = pos_sorted.tobytes()
                outs.append(pd.DataFrame({
                    "field": fld,
                    "term": uniq[codes[order][g_starts]],
                    "doc_id": docs[order][g_starts],
                    "tf": (g_ends - g_starts).astype(np.int32),
                    "dl": dls[order][g_starts],
                    "positions": [raw[s * 4:e * 4] for s, e in
                                  zip(g_starts, g_ends)],
                }))
            if outs:
                yield pd.concat(outs, ignore_index=True)

    src = tokenized.select("doc_id",
                           *[f"_{f}_tokens" for f in TEXT_FIELDS])
    return src.mapInPandas(invert, out_schema)


def _dir_bytes(path: str) -> int:
    """Total bytes of the parquet files under a directory (split sizing)."""
    try:
        return sum(f[0].get_file_info(f[1]).size
                   for f in fsutil.list_parquet(path))
    except Exception:  # noqa: BLE001 — sizing is best-effort
        return 0


@dataclass
class IndexBuilder:
    spark: SparkSession
    index_dir: str
    stages_run: list[str] = field(default_factory=list)
    stages_skipped: list[str] = field(default_factory=list)

    # ------------------------------------------------------------------ docs
    def _docs_df(self, tokenized: DataFrame) -> DataFrame:
        # uuid: deterministic function of identity (reference stores a crawl
        # uuid, model.rs:16; ours derives from (repo, path) so it is
        # recomputable). The separator is NUL — a '/' join is ambiguous
        # (repo='a/b',path='c' vs repo='a',path='b/c') and NUL cannot appear
        # in either component. doc store row = full record (S5).
        return tokenized.select(
            "doc_id",
            F.md5(F.concat_ws("\u0000", "repo", "path")).alias("uuid"),
            "repo", "path", "commit", "lang", "content",
            F.sha2("content", 256).alias("content_sha256"),
        )

    # --------------------------------------------------------------- docmeta
    def _docmeta_df(self, tokenized: DataFrame) -> DataFrame:
        """The engine's 'fast fields' — all values precomputed in the fused
        tokenize pass; this is a pure column select (FIXTURES §2 semantics
        unchanged: nullable features reproduce cantine's optional-feature
        behavior, cantine_derive/internal/src/lib.rs:217-224)."""
        return tokenized.select(*DOCMETA_COLS)

    # ----------------------------------------------------------------- build
    def build(self, corpus_with_ids: DataFrame, force: bool = False) -> dict:
        """Run all stages; each is independently resumable. `corpus_with_ids`
        must carry doc_id (see corpus.with_doc_ids)."""
        spark = self.spark
        fsutil.ensure_dir(self.index_dir)

        # Fingerprint the INPUT corpus, not the tokenized table: a stale
        # marker must never silently reuse an index built from a different
        # corpus. One cheap columnar aggregation (count + order-independent
        # crc32 sum over identity columns + total content bytes) — collisions
        # would need identical keys AND identical total content length.
        # This agg is also the pass that materializes any upstream cache
        # (with_doc_ids persists its ranged frame), so the concurrent
        # stages below never race to compute it.
        fp_row = corpus_with_ids.agg(
            F.count("*").alias("n"),
            F.sum(F.crc32(F.concat_ws("\u0000", "repo", "path", "commit"))
                  ).alias("keys_crc"),
            F.sum(F.octet_length("content")).alias("content_bytes"),
        ).collect()[0]
        n_docs = int(fp_row["n"])
        fingerprint = hashlib.sha256(
            f"v4:{n_docs}:{fp_row['keys_crc']}:{fp_row['content_bytes']}:"
            f"{','.join(TEXT_FIELDS)}".encode()
        ).hexdigest()[:16]
        metrics: dict = {"n_docs": n_docs}

        def run_stage(name: str, path: str, fn, stage_metrics=None) -> bool:
            """Marker-guarded stage execution (thread-safe: list.append is
            atomic under the GIL; each stage owns its own marker file)."""
            if not force and _stage_done(path, fingerprint):
                self.stages_skipped.append(name)
                return False
            t0 = time.time()
            extra = fn() or {}
            m = dict(stage_metrics or {})
            m.update(extra)
            m["seconds"] = round(time.time() - t0, 3)
            metrics[name] = m
            _mark_stage(path, fingerprint, m)
            self.stages_run.append(name)
            return True

        # Tokenize ONCE into a parquet intermediate (stage "tokenized"), and
        # have every downstream stage read it back. Two scale lessons are
        # baked in here, both measured on local[32] vs local[8]:
        # 1. recomputing the upstream lineage per stage stacks several Python
        #    stages (source mapInPandas, id assignment, tokenizer UDF) into
        #    one task pipeline — at high core counts that multiplies Python
        #    workers per slot and collapsed throughput ~7×;
        # 2. .persist() of deserialized token arrays creates tens of millions
        #    of small JVM objects; concurrent tasks then GC-thrash (measured
        #    10× per-task inflation at 32-wide). A columnar parquet
        #    intermediate is GC-free, spills naturally, and doubles as a
        #    resumable checkpoint — at 100 TB an in-memory cache could never
        #    hold this anyway.
        tok_path = os.path.join(self.index_dir, "tokenized")
        run_stage("tokenized", tok_path, lambda: (
            corpus_with_ids.mapInPandas(_tokfeat_batches, TOKFEAT_SCHEMA)
            .write.mode("overwrite").parquet(tok_path)))

        # Read the intermediate through a conf-isolated session clone whose
        # split sizing is derived from the ACTUAL table size (guide §6:
        # scale-adaptive, not a constant): the downstream stages are
        # compute-heavy selects over few small files — default 128 MB
        # splits would pack them into 1-4 tasks and serialize the work.
        par = spark.sparkContext.defaultParallelism
        rd = spark.newSession()
        tok_bytes = _dir_bytes(tok_path)
        split = min(128 << 20, max(1 << 20, tok_bytes // max(2 * par, 1)))
        rd.conf.set("spark.sql.files.maxPartitionBytes", str(split))
        rd.conf.set("spark.sql.files.openCostInBytes",
                    str(max(64 << 10, split // 8)))
        tokenized = rd.read.parquet(tok_path)

        # docs / docmeta / segments all depend ONLY on tokenized —
        # run them on concurrent driver threads (guide §2.6): the scheduler
        # back-fills one job's task tail with the next job's tasks.
        docs_path = os.path.join(self.index_dir, "docs")
        dm_path = os.path.join(self.index_dir, "docmeta")

        def stage_docs():
            def write_and_gate():
                (self._docs_df(tokenized)
                 .sortWithinPartitions("doc_id")
                 .write.mode("overwrite").parquet(docs_path))
                # ingest-time uniqueness gate: duplicate (repo, path) rows
                # would share a uuid and make cursor resumes ambiguous (the
                # reference's HashMap silently last-wins,
                # readerwriter.rs:40-47 — we refuse). It runs inside the
                # stage, so a docs marker certifies unique uuids.
                dup = (spark.read.parquet(docs_path).groupBy("uuid").count()
                       .filter(F.col("count") > 1).limit(1).collect())
                if dup:
                    raise ValueError(
                        f"duplicate document identity (repo, path): uuid "
                        f"{dup[0]['uuid']!r} maps to {dup[0]['count']} "
                        f"doc_ids")
            run_stage("docs", docs_path, write_and_gate, {"rows": n_docs})

        def stage_docmeta():
            run_stage("docmeta", dm_path, lambda: (
                self._docmeta_df(tokenized)
                .sortWithinPartitions("doc_id")
                .write.mode("overwrite").parquet(dm_path)),
                {"rows": n_docs})

        is_path = os.path.join(self.index_dir, "index_stats")

        def stage_index_stats():
            def agg_and_write():
                dm = spark.read.parquet(dm_path)
                # integer sum of doc lengths → avgdl is bit-deterministic
                # regardless of partitioning (SURVEY §7.4 risk 1); ONE agg
                # job covers every field
                agg = dm.agg(F.count("*").alias("n"),
                             *[F.sum(f"doc_len_{fld}").alias(f"t_{fld}")
                               for fld in TEXT_FIELDS]).collect()[0]
                rows = []
                for fld in TEXT_FIELDS:
                    total = int(agg[f"t_{fld}"] or 0)
                    rows.append((fld, int(agg["n"]), total,
                                 total / max(int(agg["n"]), 1)))
                write_index_stats(is_path, rows)
            run_stage("index_stats", is_path, agg_and_write)

        # segments: the compressed block-max format, the one index every
        # query runs on (the reference's searcher IS its segment reader,
        # cantine/src/index.rs:69-129). Needs avgdl (index_stats) + the
        # posting ROWS, which the invert lineage streams straight into the
        # encode shuffle — no posting table is written. docs ∥ docmeta
        # overlap the index_stats → segments chain.
        from cantine_spark.build.segments import (
            build_segments, load_segments_meta,
        )
        seg_path = os.path.join(self.index_dir, "segments")
        with ThreadPoolExecutor(max_workers=2) as pool:
            futures = [pool.submit(stage_docs), pool.submit(stage_docmeta)]
            try:
                futures[1].result()
                stage_index_stats()
                run_stage("segments", seg_path,
                          lambda: build_segments(
                              spark, self.index_dir, n_docs=n_docs,
                              postings_df=invert_postings(tokenized)))
                for f in futures:
                    f.result()
            except BaseException as exc:
                _log_sibling_failures(futures, exc)
                raise

        manifest = {
            "version": 1,
            "fingerprint": fingerprint,
            "n_docs": n_docs,
            "text_fields": list(TEXT_FIELDS),
            "stages_run": self.stages_run,
            "stages_skipped": self.stages_skipped,
            "metrics": metrics,
            # skew visibility: postings per doc shard (segments meta)
            "postings_per_shard": load_segments_meta(
                self.index_dir)["postings_per_shard"],
            "built_at": time.time(),
        }
        fsutil.write_json(os.path.join(self.index_dir, "manifest.json"),
                          manifest)
        return manifest


def _log_sibling_failures(futures: list, raised: BaseException) -> None:
    """After a build stage raised, wait for the concurrent stage tasks and
    log every OTHER failure among them: the pool would otherwise finish
    them silently, and only `raised` would reach the caller."""
    wait(futures)
    for f in futures:
        exc = f.exception()
        if exc is not None and exc is not raised:
            _log.error("concurrent build stage also failed", exc_info=exc)


def build_index(spark: SparkSession, corpus_with_ids: DataFrame,
                index_dir: str, force: bool = False) -> dict:
    return IndexBuilder(spark, index_dir).build(corpus_with_ids, force=force)
