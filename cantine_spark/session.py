"""SparkSession factory with scale-oriented defaults.

Local sandbox runs on local[N]; on a real cluster the same confs apply —
AQE handles runtime re-planning (skew joins, partition coalescing), Arrow
makes every pandas UDF a vectorized batch transfer.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                                  len(os.sched_getaffinity(0))))


def _default_heap() -> str:
    """Driver heap: a quarter of the host's RAM, at least 1 GiB and at most
    2 GiB — the same rule as perfbench/run.py's session sizing."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{max(1024, min(2048, total_kb // 1024 // 4))}m"


def get_spark(
    app_name: str = "cantine_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime partition coalescing + skew-join splitting (the
      query-side analog of the build-side salting in build/builder.py).
    - Arrow on: every pandas_udf / mapInPandas moves columnar batches.
    - shuffle partitions ~ cores locally; on a cluster size to data volume.
    """
    cores = cores or DEFAULT_CPUS
    shuffle = shuffle_partitions or cores
    heap = os.environ.get("SPARK_DRIVER_MEM") or _default_heap()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", heap)
        .config("spark.memory.fraction", "0.7")
        # Pin the heap (-Xms = -Xmx) and use a non-uncommitting GC: G1's
        # region commit/uncommit churn caused TLB-shootdown IPI storms at
        # local[32] (70-90% system CPU, threads stuck in
        # irqentry_exit_to_user_mode) — a 200k-doc build dropped from 262s
        # to 47s with this alone.
        .config("spark.driver.extraJavaOptions",
                os.environ.get("SPARK_DRIVER_JAVA_OPTS",
                               f"-Xms{heap} -XX:+UseParallelGC"))
        # direct task commits: no serial driver-side rename of hundreds of
        # bucket files at job commit
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Reused python workers are not free per task either. pyspark
        # calls importlib.invalidate_caches() at every task start, and on
        # CPython 3.11 every cached zipimporter then re-reads its archive
        # directory (pyspark.zip, ~1,300 entries, once per cached package
        # path) — measured ~210 ms of CPU per task in a reused worker on 4
        # vCPUs. After every task the daemon also runs a full gc.collect()
        # over the worker's whole import-time heap (~31 ms per task).
        # The zip re-read is consistent with the "kernel-time spin" seen
        # with reuse on (an identical build ran 27s with reuse off vs
        # 60-160s with reuse on at local[32], 80-90% system CPU). This
        # default keeps reuse off for batch builds; fresh workers cost
        # ~0.1s each. Serving processes (`cantine_submit serve`, an
        # ingesting IndexServer, perfbench) turn reuse on and build in the
        # same session, so the build's idle workers stay pooled until
        # Spark's idle timeout (60 s) — at most one per task slot, since no
        # build task runs two Python stages (corpus._dense_rank assigns
        # doc ids in the JVM). Every query-side task starts with
        # execution/wand._worker_prologue, which drops the zip finders and
        # freezes the worker's heap once so the per-task collection scans
        # only what the tasks allocate.
        .config("spark.python.worker.reuse", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
