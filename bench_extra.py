"""Extra measurement harness for the optimization rounds (guide §1).

NOT the driver's bench — bench.py stays frozen. This file isolates the
phases bench.py times in aggregate so each optimization can be attributed:

  python bench_extra.py build    # one bench-shaped build, per-stage seconds
  python bench_extra.py queries  # per-query driver/cluster latency + plans

Env mirrors bench.py: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
SPARK_GRAFT_BENCH_DOCS.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "50000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def profile_build() -> dict:
    from cantine_spark import fsutil
    from cantine_spark.build.builder import build_index
    from cantine_spark.corpus import generate_corpus, with_doc_ids
    from cantine_spark.session import get_spark

    spark = get_spark("bench-extra-build", cores=CPUS,
                      shuffle_partitions=CPUS)
    corpus_dir = tempfile.mkdtemp(prefix="bx_corpus_")
    idx_dir = tempfile.mkdtemp(prefix="bx_idx_")
    out: dict = {"n_docs": N_DOCS, "cpus": CPUS,
                 "loadavg": os.getloadavg()[0]}
    try:
        (generate_corpus(spark, N_DOCS, partitions=max(CPUS, 8))
         .write.mode("overwrite").parquet(corpus_dir))
        t0 = time.time()
        corpus = with_doc_ids(spark.read.parquet(corpus_dir))
        build_index(spark, corpus, idx_dir)
        out["build_seconds"] = round(time.time() - t0, 3)
        # per-stage seconds from the stage markers build_index wrote
        stages = {}
        for name in ("tokenized", "docs", "docmeta", "term_stats",
                     "uuid_map", "index_stats"):
            try:
                m = fsutil.read_json(
                    os.path.join(idx_dir, name, "_STAGE_OK.json"))
                stages[name] = m.get("metrics", {}).get("seconds")
            except Exception:  # noqa: BLE001
                stages[name] = None
        try:
            sm = fsutil.read_json(
                os.path.join(idx_dir, "segments", "_STAGE_OK.json"))
            stages["segments_total"] = sm.get("metrics", {})
        except Exception:  # noqa: BLE001
            pass
        try:
            stages["champions"] = fsutil.read_json(os.path.join(
                idx_dir, "champions", "_CHAMPIONS_META.json")).get("seconds")
        except Exception:  # noqa: BLE001
            pass
        out["stages"] = stages
        known = sum(v for v in stages.values() if isinstance(v, (int, float)))
        out["unattributed_seconds"] = round(out["build_seconds"] - known, 3)
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark.stop()
    return out


def profile_queries(repeats: int = 5) -> dict:
    """Build once, then time each bench query on the driver tier and the
    forced-cluster path separately (min over repeats)."""
    from bench import BENCH_QUERIES

    from cantine_spark.api import SearchEngine
    from cantine_spark.build.builder import build_index
    from cantine_spark.corpus import generate_corpus, with_doc_ids
    from cantine_spark.index import IndexReader
    from cantine_spark.session import get_spark

    spark = get_spark("bench-extra-q", cores=CPUS, shuffle_partitions=CPUS)
    corpus_dir = tempfile.mkdtemp(prefix="bxq_corpus_")
    idx_dir = tempfile.mkdtemp(prefix="bxq_idx_")
    out: dict = {"n_docs": N_DOCS, "cpus": CPUS}
    try:
        (generate_corpus(spark, N_DOCS, partitions=max(CPUS, 8))
         .write.mode("overwrite").parquet(corpus_dir))
        build_index(spark, with_doc_ids(spark.read.parquet(corpus_dir)),
                    idx_dir)
        spark.stop()
        spark = get_spark("bench-extra-serve", cores=CPUS,
                          shuffle_partitions=CPUS,
                          extra_conf={"spark.python.worker.reuse": "true",
                                      "spark.scheduler.mode": "FAIR"})
        for leg, kw in (("driver", {"pin_tables": True}),
                        ("cluster", {"pin_tables": False,
                                     "use_driver": False})):
            eng = SearchEngine(IndexReader(spark, idx_dir), **kw)
            for _, q in BENCH_QUERIES:
                eng.search(dict(q))  # warm
            lat: dict[str, list[float]] = {}
            for _ in range(repeats):
                for name, q in BENCH_QUERIES:
                    t = time.time()
                    eng.search(dict(q))
                    lat.setdefault(name, []).append(time.time() - t)
            out[leg] = {n: round(min(v), 4) for n, v in lat.items()}
    finally:
        shutil.rmtree(corpus_dir, ignore_errors=True)
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark.stop()
    return out


def main() -> None:
    mode = sys.argv[1] if len(sys.argv) > 1 else "build"
    if mode == "build":
        print(json.dumps(profile_build(), indent=1))
    elif mode == "queries":
        print(json.dumps(profile_queries(), indent=1))
    else:
        raise SystemExit(f"unknown mode {mode!r}")


if __name__ == "__main__":
    main()
