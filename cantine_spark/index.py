"""Index open / schema validation — analog of cantine's index open path
(cantine/src/main.rs:218-219, RecipeIndex::try_from(&Schema) at
cantine/src/index.rs:205-226): open the tables, assert the expected fields
exist, expose cached collection statistics.

Opening a reader checks that the index has a v2 segments table — the one
index format every query runs on — and a champions table (the term
dictionary), and that its fast-field sidecar covers docmeta at the
segments' shard span, rewriting a stale sidecar (open_segments)."""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cantine_spark import fsutil

REQUIRED = {
    "docs": {"doc_id", "uuid", "repo", "path", "commit", "lang",
             "content", "content_sha256"},
    "docmeta": {"doc_id", "doc_len_content", "doc_len_path", "num_lines",
                "num_tokens", "content_bytes", "num_functions", "num_imports",
                "comment_ratio", "avg_line_len", "max_line_len"},
    "index_stats": {"field", "n_docs", "total_len", "avgdl"},
    "champions": {"field", "term", "shard", "n_total", "cf"},
}

# NOTE: the filter/sort/agg feature set is NOT a hardcoded list — it is
# derived from the docmeta schema at open time (IndexReader.features →
# features.features_from_struct), mirroring cantine_derive's proc-macro
# codegen from the Features struct (internal/src/lib.rs:9-34).


class SchemaMismatch(Exception):
    pass


def open_segments(spark: SparkSession, index_dir: str, docmeta_schema) -> int:
    """The shard span of a servable index dir. Raises SchemaMismatch when
    the dir has no v2 segments table or no champions table. Rewrites the
    fast-field sidecar with the build's own writer (write_fastfields) when
    it is absent, was written at another span, or lacks a numeric column
    of docmeta (Spark schema `docmeta_schema`; a column added after the
    build): the sidecar is where the kernel reads every filter, sort and
    agg value and the candidates of match-all queries."""
    from cantine_spark.build.champions import load_champions_meta
    from cantine_spark.build.segments import (
        fastfield_columns, load_fastfields_meta, write_fastfields,
    )
    try:
        meta = fsutil.read_json(
            fsutil.join(index_dir, "segments", "_SEGMENTS_META.json"))
    except Exception as e:  # noqa: BLE001 — absent on any filesystem
        raise SchemaMismatch(
            f"{index_dir} has no segments table; rebuild the index "
            "(build_index)") from e
    if meta.get("format", 1) < 2:
        raise SchemaMismatch(
            f"{index_dir} has a format-{meta.get('format', 1)} segments "
            "table without positions; rebuild the index (build_index)")
    if load_champions_meta(index_dir) is None:
        raise SchemaMismatch(
            f"{index_dir} has no champions table (the term dictionary); "
            "rebuild the index (build_index)")
    span = int(meta["shard_span"])
    ff = load_fastfields_meta(index_dir)
    cols = fastfield_columns(docmeta_schema)
    if (ff is None or int(ff["shard_span"]) != span
            or not set(cols) <= set(ff["columns"])):
        try:
            write_fastfields(spark, index_dir, span)
        except Exception as e:  # noqa: BLE001 — read-only store, etc.
            raise SchemaMismatch(
                f"the fast-field sidecar of {index_dir} is stale and cannot "
                f"be rewritten: {e}") from e
    return span


@dataclass
class IndexReader:
    spark: SparkSession
    index_dir: str

    def __post_init__(self):
        self._open()

    def _open(self) -> None:
        open_segments(self.spark, self.index_dir, self.docmeta.schema)

    def table(self, name: str) -> DataFrame:
        df = self.spark.read.parquet(fsutil.join(self.index_dir, name))
        missing = REQUIRED[name] - set(df.columns)
        if missing:
            raise SchemaMismatch(f"{name} missing columns {sorted(missing)}")
        return df

    @cached_property
    def docs(self) -> DataFrame:
        return self.table("docs")

    def doc_store_dirs(self) -> list[str]:
        """Filesystem locations of the doc-store parquet — hydration and
        the cursor uuid resolve (the reference's resident doc store,
        readerwriter.rs:30-66) read these directly with pyarrow."""
        return [fsutil.join(self.index_dir, "docs")]

    @cached_property
    def docmeta(self) -> DataFrame:
        return self.table("docmeta")

    @cached_property
    def term_stats(self) -> DataFrame:
        """(field, term, df, cf), a view over the champions table: it has
        one row per (field, term, shard) carrying the group's posting
        count n_total and cf, so df = Σ n_total and cf = Σ cf (over every
        tier, in a tiered reader). The driver-side df lookup reads the
        same sums from the key directory (SearchExecutor.term_dfs)."""
        return (self.table("champions").groupBy("field", "term")
                .agg(F.sum("n_total").cast("long").alias("df"),
                     F.sum("cf").cast("long").alias("cf")))

    @cached_property
    def features(self) -> dict:
        """name → Feature, derived from the docmeta schema (U5)."""
        from cantine_spark.features import features_from_struct
        return features_from_struct(self.docmeta.schema)

    @cached_property
    def stats(self) -> dict[str, dict]:
        """Per-field {n_docs, avgdl} — cached once per reader, the analog of
        cantine's startup /info computation (main.rs:174-189,245)."""
        rows = self.table("index_stats").collect()
        return {r["field"]: {"n_docs": int(r["n_docs"]),
                             "total_len": int(r["total_len"]),
                             "avgdl": float(r["avgdl"])} for r in rows}

    @cached_property
    def manifest(self) -> dict:
        # fsutil: the manifest must load from any index URI (s3://, ...),
        # not just a posix dir — same routing as the point-read family
        return fsutil.read_json(fsutil.join(self.index_dir, "manifest.json"))

    @property
    def num_docs(self) -> int:
        return next(iter(self.stats.values()))["n_docs"]

    # ---- segment-path providers. FastTopK consumes the index through these
    #      methods (never through raw paths), so a reader that spans
    #      MULTIPLE tier directories (tiered.TieredIndexReader — the serving
    #      layer's incremental-compaction shape) can present itself as one
    #      logical index by overriding them.
    def segments_meta(self) -> dict:
        from cantine_spark.build.segments import load_segments_meta
        return load_segments_meta(self.index_dir)

    def fastfields_spec(self) -> dict:
        """Fast-field sidecar descriptor: {shard_span, columns, locations}.
        `locations` is the sidecar dir (str) for a single-dir index, or a
        doc-range-keyed list [(doc_lo, doc_hi, dir), ...] for tiered readers
        — the kernel resolves a shard to the dir(s) covering its doc range.
        Opening the reader made it cover docmeta (open_segments)."""
        from cantine_spark.build.segments import load_fastfields_meta
        m = load_fastfields_meta(self.index_dir)
        return {"shard_span": int(m["shard_span"]),
                "columns": list(m["columns"]),
                "locations": fsutil.join(self.index_dir, "fastfields")}

    def champions_spec(self) -> dict | None:
        """Per-term champion sidecar descriptor {shard_span, cap}
        (build/champions.py; opening the reader checked that it exists).
        FastTopK serves single-term relevance top-k from it when the
        lossless tail bound holds; span mismatch (stale sidecar after
        re-encode) disables it."""
        from cantine_spark.build.champions import load_champions_meta
        m = load_champions_meta(self.index_dir)
        return {"shard_span": int(m["shard_span"]), "cap": int(m["cap"])}

    # ---- point-read specs (execution/driverexec): the segments and
    #      champions tables addressed for pyarrow point reads — by the
    #      driver tier and by the cluster kernel's shard tasks alike. A
    #      tiered reader overrides these with per-tier dirs and per-field
    #      max_tfnorm/min_tfnorm rescale factors.
    def segment_point_spec(self) -> list[tuple[str, dict[str, float]]]:
        return [(fsutil.join(self.index_dir, "segments"), {})]

    def champion_point_spec(self) -> list[str]:
        return [fsutil.join(self.index_dir, "champions")]

    # ---- point lookups (S7 analog: find_by_id / find_by_uuid / id_for_uuid,
    #      cantine/src/database/readerwriter.rs:61-77). docs is written
    #      range-partitioned + sorted by doc_id → parquet row-group pruning.
    def find_by_id(self, doc_id: int):
        rows = self.docs.filter(F.col("doc_id") == doc_id).limit(1).collect()
        return rows[0] if rows else None

    def find_by_uuid(self, uuid: str):
        doc_id = self.id_for_uuid(uuid)
        return None if doc_id is None else self.find_by_id(doc_id)

    def id_for_uuid(self, uuid: str) -> int | None:
        """uuid → doc_id from the doc store — the analog of the reference's
        uuid HashMap built over its doc store (readerwriter.rs:30-55): a
        driver-side point read (no Spark job's scheduling floor on the
        serving path), a Spark scan of docs/ as the counted fallback.
        Raises on duplicate uuids — a cursor must never silently resume
        from the wrong doc."""
        try:
            return self._id_for_uuid_driver(uuid)
        except ValueError:
            raise  # the duplicate-uuid invariant, not a read failure
        except Exception:  # noqa: BLE001 — any driver-read issue → Spark
            # lazy: cantine_spark.execution imports this module
            from cantine_spark.execution import driverexec  # noqa: PLC0415
            driverexec.note_fallback("id_for_uuid")
        rows = (self.docs.filter(F.col("uuid") == uuid)
                .select("doc_id").limit(2).collect())
        return _one_id(uuid, [r["doc_id"] for r in rows])

    def _id_for_uuid_driver(self, uuid: str) -> int | None:
        """The uuid's rows of every doc-store dir, point-read through
        driverexec's cached key directory keyed by uuid (each docs file's
        uuid column is read and sorted once, on first use): no listing,
        no dataset and no side table per call."""
        from cantine_spark.execution import driverexec  # noqa: PLC0415

        return _one_id(uuid, [
            d for dir_ in self.doc_store_dirs()
            for d in driverexec.read_keys(
                dir_, {uuid}, ("uuid", "doc_id"),
                key_cols=("uuid",)).column("doc_id").to_pylist()])

    def uuid_for_id(self, doc_id: int) -> str | None:
        row = self.find_by_id(doc_id)
        return row["uuid"] if row else None


def _one_id(uuid: str, ids: list) -> int | None:
    if len(ids) > 1:
        raise ValueError(f"duplicate uuid {uuid!r} in doc store")
    return int(ids[0]) if ids else None
