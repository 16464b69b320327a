"""Query-side table lookups around the segment kernel: term document
frequencies (the analog of tantivy's term dictionary, read from the
champions table's key directory) and winner hydration from the doc store
(J5). Both are point reads on the driver with a Spark read as the counted
fallback; query evaluation itself is the segment kernel's
(execution/wand.py).
"""

from __future__ import annotations

import functools
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cantine_spark.execution import driverexec
from cantine_spark.index import IndexReader


@dataclass
class SearchExecutor:
    reader: IndexReader

    def __post_init__(self):
        # term-dictionary cache: df per (field, term) is immutable for a
        # built index — the analog of tantivy's in-memory term dict/fst
        self._df_cache: dict[tuple[str, str], int] = {}
        self._doc_dataset = None  # lazy pyarrow doc-store dataset
        self._hydration_df: DataFrame | None = None

    HYDRATE_COLS = ("doc_id", "uuid", "repo", "path", "lang")

    def pin_hydration(self) -> None:
        """Serving mode: pin the NARROW hydration projection of the doc
        store (ids + display fields, ~100 B/doc — never `content`) in
        cluster memory, so the per-query winner lookup reads cached
        columnar batches instead of re-opening the parquet doc store. The
        memory analog of the reference's mmap-resident doc store minus the
        payload (readerwriter.rs:61-66 reads offsets, not blobs)."""
        from pyspark import StorageLevel
        self._hydration_df = (self.reader.docs
                              .select(*self.HYDRATE_COLS)
                              .persist(StorageLevel.MEMORY_AND_DISK))

    def unpin_hydration(self) -> None:
        if self._hydration_df is not None:
            try:
                self._hydration_df.unpersist()
            finally:
                self._hydration_df = None

    # ------------------------------------------------------------ term stats
    def term_dfs(self, terms: set[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """Document frequency per query term (0 for an unknown term) —
        the analog of the doc_freq tantivy keeps in the term dictionary
        next to the term. Results are cached per executor.

        The lookup runs DRIVER-SIDE (_term_dfs_driver) — a cold term must
        not cost a Spark job's scheduling floor on the serving path — and
        falls back to a Spark read of the reader's term_stats view."""
        missing = {ft for ft in terms if ft not in self._df_cache}
        if missing:
            try:
                found = self._term_dfs_driver(missing)
            except Exception:  # noqa: BLE001 — any driver-read issue → Spark
                driverexec.note_fallback("term_dfs")
                cond = functools.reduce(
                    lambda a, b: a | b,
                    [(F.col("field") == f) & (F.col("term") == t)
                     for f, t in missing])
                rows = (self.reader.term_stats.filter(cond)
                        .select("field", "term", "df").collect())
                found = {(r["field"], r["term"]): int(r["df"]) for r in rows}
            for ft in missing:
                self._df_cache[ft] = found.get(ft, 0)
        return {ft: self._df_cache[ft] for ft in terms}

    def _term_dfs_driver(
            self, missing: set[tuple[str, str]]) -> dict[tuple[str, str], int]:
        """df per (field, term) = Σ n_total over the term's champion rows
        (one per shard the term occurs in), summed over every champions
        dir (one per tier in a tiered reader; integer sums are exact) by
        driverexec.key_sums: a binary search in the cached key directory,
        no decode once a file's sums are loaded. Routed through pyarrow.fs
        (fsutil), so it works on any index URI — posix, file://, s3://,
        hdfs://."""
        out: dict[tuple[str, str], int] = {}
        for d in self.reader.champion_point_spec():
            for ft, n in driverexec.key_sums(d, missing, "n_total").items():
                out[ft] = out.get(ft, 0) + n
        return out

    # -------------------------------------------------------------- hydration
    def hydrate_ids(self, ids: list[int],
                    columns: list[str] | None = None) -> dict[int, dict]:
        """J5 with the winner ids already on the driver (kernel output):
        a point lookup of ≤255 ids in the doc store — docs/ is range-
        partitioned + sorted by doc_id, so parquet min/max stats prune to
        the few row groups holding the winners (the analog of the
        reference's per-id offset lookup, readerwriter.rs:61-66).

        Fast path: read those row groups DRIVER-SIDE with pyarrow — no
        Spark job at all. A kernel query's only other Spark job is the
        kernel itself, so this removes half the per-query scheduling floor
        (measured ~110 ms of a ~600 ms query). Scale-honest: the read is
        O(k) row groups regardless of corpus size, exactly what the
        executor-side isin scan pruned to — we just skip shipping a
        255-row job to the cluster to do it. Falls back to the pruned
        Spark scan when the store isn't driver-readable."""
        if not ids:
            return {}
        cols = columns or list(self.HYDRATE_COLS)
        try:
            return self._hydrate_driver(ids, cols)
        except Exception:  # noqa: BLE001 — any driver-read issue → Spark
            driverexec.note_fallback("hydrate_ids")
            src = self.reader.docs
            if (self._hydration_df is not None
                    and set(cols) <= set(self.HYDRATE_COLS)):
                src = self._hydration_df  # pinned narrow projection
            rows = (src.filter(F.col("doc_id").isin([int(i) for i in ids]))
                    .select(*cols).collect())
            return {int(r["doc_id"]): r.asDict() for r in rows}

    def _hydrate_driver(self, ids: list[int], cols: list[str]) -> dict[int, dict]:
        import bisect

        import pyarrow as pa
        import pyarrow.dataset as pads
        ranges = self._doc_dataset
        if ranges is None:
            import pyarrow.parquet as pq

            from cantine_spark import fsutil
            # one footer pass per executor caches each file's doc_id
            # [min, max] (docs/ is written repartitionByRange(doc_id) +
            # sorted, builder.py) — lookups then open only the files whose
            # range intersects the winner ids. Thread-safe: built once,
            # read-only after (a benign double-build races to the same
            # value). ~3 ms per lookup vs ~13-21 ms letting the dataset
            # scanner stat-prune, vs ~110 ms as a Spark job. File access
            # goes through pyarrow.fs so the same point read works on any
            # index URI (s3://, hdfs://, file://), not just posix dirs.
            ranges = []
            for d in self.reader.doc_store_dirs():
                if not fsutil.is_dir(d):
                    raise FileNotFoundError(d)
                for fsys, fp in fsutil.list_parquet(d):
                    with fsys.open_input_file(fp) as f:
                        md = pq.ParquetFile(f).metadata
                    lo, hi = None, None
                    for gi in range(md.num_row_groups):
                        rg = md.row_group(gi)
                        for ci in range(rg.num_columns):
                            c = rg.column(ci)
                            if c.path_in_schema == "doc_id":
                                st = c.statistics
                                if st is None or not st.has_min_max:
                                    raise ValueError("doc_id stats missing")
                                lo = st.min if lo is None else min(lo, st.min)
                                hi = st.max if hi is None else max(hi, st.max)
                    if lo is None:
                        continue  # empty file
                    ranges.append((int(lo), int(hi), fsys, fp))
            if not ranges:
                raise FileNotFoundError("no doc-store parquet files")
            self._doc_dataset = ranges
        want = sorted({int(i) for i in ids})
        need = [(fsys, fp) for lo, hi, fsys, fp in ranges
                if bisect.bisect_left(want, lo) < bisect.bisect_right(want, hi)]
        if not need:
            return {}
        # group by FileSystem instance (one per store dir) — pads.dataset
        # takes a single filesystem per call; a tiered reader may span dirs
        by_fs: dict[int, tuple] = {}
        for fsys, fp in need:
            by_fs.setdefault(id(fsys), (fsys, []))[1].append(fp)
        parts = [pads.dataset(fps, format="parquet", filesystem=fsys)
                 .to_table(columns=list(cols),
                           filter=pads.field("doc_id").isin(want))
                 for fsys, fps in by_fs.values()]
        tbl = parts[0] if len(parts) == 1 else pa.concat_tables(parts)
        out: dict[int, dict] = {}
        for r in tbl.to_pylist():
            out[int(r["doc_id"])] = r
        return out
