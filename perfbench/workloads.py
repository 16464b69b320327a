"""Workload table and the set-up / measurement of one run.

Both workloads serve the same kind of deployment as `cantine_submit serve`:
an engine with pinned tables behind `SearchHTTPServer` with the serving
defaults (FAIR scheduling, reused Python workers, 5 ms batch window,
batches of at most 16), warmed up, then fed by a closed loop of `nproc`
callers and by an open-loop stream at a fixed rate. They differ in how the
index is built and in the traffic, so that they load different layers.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import types
from dataclasses import dataclass

import numpy as np

import gen
import load
import probe
import verify

OPEN_SHARE = 3 / 4   # of --seconds: open loop; the rest is the closed loop
WARM_MAX_SECONDS = 20.0  # cap on the warm-up of a slow engine
ENGINE_OPENS = 3      # engine opens per run; setup_s takes their median
WARM_SEED_OFFSET = 1_000_003
CLOSED_SEED_OFFSET = 500_009
CLOSED_MAX_QPS = 500  # requests prepared per closed-loop second


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    docs: int               # corpus size, files
    smoke_docs: int
    rate_qps: float         # open-loop arrival rate
    warm_requests: int      # closed-loop warm-up requests before timing
    build: str              # "batch": build_index; "stream": StreamingIndexer
    use_driver: bool        # engine's driver tier on/off
    exercises: tuple[str, ...]
    bypasses: tuple[str, ...]

    def requests(self, seed: int, n: int, n_docs: int) -> list[dict]:
        if self.name == "serve_tail":
            return gen.tail_requests(seed, n, n_docs)
        return gen.hot_requests(seed, n)


WORKLOADS = {w.name: w for w in (
    Workload(
        name="serve_tail",
        why=("long-tail code search: 1-3 zipf identifiers from a pool far "
             "larger than the row cache, phrases, unique terms, filters, "
             "sorts, aggregations, page-2 cursors"),
        docs=4000, smoke_docs=400, rate_qps=10.0,
        warm_requests=80, build="batch",
        use_driver=True,
        exercises=("build.builder (batch build_index)", "httpserve",
                   "api", "execution.driverexec", "execution.executor",
                   "execution.wand driver tier"),
        bypasses=("streaming.incremental", "execution.wand cluster kernel")),
    Workload(
        name="serve_hot",
        why=("hot code keywords: single keywords, 6-10 keyword OR and "
             "DisMax, +kw -kw, keyword with filter or aggregation"),
        docs=2000, smoke_docs=400, rate_qps=2.0,
        warm_requests=20, build="stream",
        use_driver=False,
        exercises=("streaming.incremental (one commit)", "build.builder",
                   "httpserve micro-batching", "api",
                   "execution.wand cluster kernel, champion-seeded",
                   "Spark scheduler", "execution.executor"),
        bypasses=("execution.driverexec",)),
)}

STAGES = ("tokenized", "docs", "docmeta", "postings", "uuid_map",
          "index_stats", "segments", "term_stats")
TABLES = ("docs", "docmeta", "postings", "segments", "champions",
          "fastfields", "term_stats", "uuid_map")


def percentile(values: list[float], q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q))


def tail_percentile(n: int) -> float:
    """The highest percentile with at least ten of n samples above it. The
    open loop's sample count is rate x time, fixed per workload, so the
    percentile is too."""
    return max(50.0, 100.0 * (1.0 - 10.0 / n)) if n else 50.0


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _input_bytes(corpus) -> int:
    return int(sum(corpus[c].str.len().sum() for c in
                   ("repo", "path", "commit", "lang", "content")))


def _write_corpus(corpus, path: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    from cantine_spark.corpus import CORPUS_SCHEMA
    schema = pa.schema([pa.field(f.name, pa.string(), nullable=False)
                        for f in CORPUS_SCHEMA.fields])
    pq.write_table(pa.Table.from_pandas(corpus, schema=schema,
                                        preserve_index=False),
                   os.path.join(path, "part-00000.parquet"))


def _build(spark, w: Workload, corpus_dir: str, work: str) -> tuple[str, float]:
    """Index the corpus; returns (index dir, ingest seconds or 0)."""
    if w.build == "batch":
        from cantine_spark.build.builder import build_index
        from cantine_spark.corpus import with_doc_ids
        idx = os.path.join(work, "index")
        build_index(spark, with_doc_ids(spark.read.parquet(corpus_dir)), idx)
        return idx, 0.0
    from cantine_spark.streaming.incremental import StreamingIndexer
    root = os.path.join(work, "index_root")
    t0 = time.perf_counter()
    n = StreamingIndexer(spark, root).ingest_available(
        corpus_dir, os.path.join(work, "checkpoint"))
    commit_s = time.perf_counter() - t0
    if n != 1:
        raise RuntimeError(f"streaming ingest committed {n} generations, "
                           "expected 1")
    return os.path.join(root, "gen_000000"), commit_s


def _open_engine(spark, idx: str, w: Workload):
    from cantine_spark.api import SearchEngine
    from cantine_spark.index import IndexReader
    return SearchEngine(IndexReader(spark, idx), pin_tables=True,
                        use_driver=w.use_driver)


def run(spark, w: Workload, seed: int, seconds: float, trace: bool,
        smoke: bool, work: str, trace_dir: str,
        sampler: probe.ProcSampler) -> dict:
    """Set up and measure one workload; returns metrics and details."""
    from cantine_spark.httpserve import SearchHTTPServer

    cores = spark.sparkContext.defaultParallelism
    n_docs = w.smoke_docs if smoke else w.docs
    jobs = probe.SparkCounter(spark.sparkContext)
    detail: dict = {"workload": w.name, "seed": seed, "docs": n_docs,
                    "rate_qps": w.rate_qps, "exercises": w.exercises,
                    "bypasses": w.bypasses}

    phases: dict[str, float] = {}
    mark = [time.perf_counter()]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - mark[0]
        mark[0] = now

    # ------------------------------------------------------------- set up
    corpus = gen.make_corpus(seed, n_docs)
    corpus_dir = os.path.join(work, "corpus")
    _write_corpus(corpus, corpus_dir)
    phase("corpus")
    jobs.take()
    t0 = time.perf_counter()
    idx, commit_s = _build(spark, w, corpus_dir, work)
    build_s = time.perf_counter() - t0
    build_jobs, build_tasks = jobs.take()
    with open(os.path.join(idx, "manifest.json")) as f:
        manifest = json.load(f)
    table_bytes = {t: _dir_bytes(os.path.join(idx, t)) for t in TABLES}
    phase("build")

    opens, engine = [], None
    for _ in range(ENGINE_OPENS):
        if engine is not None:
            engine.close()
        t = time.perf_counter()
        engine = _open_engine(spark, idx, w)
        opens.append(time.perf_counter() - t)
    detail["engine_open_s"] = opens
    phase("engine_opens")

    backend = types.SimpleNamespace(engine=engine, search=engine.search)
    http = SearchHTTPServer(backend, poll_seconds=0, batch_window_ms=5.0,
                            batch_max=16).start()
    tracer = probe.Tracer()
    try:
        # a fixed number of warm-up queries, not a fixed time, so JIT
        # compilation and lazy loading are as far along on a slow machine
        # as on a fast one when timing starts
        load.closed_loop(http.port, w.requests(
            seed + WARM_SEED_OFFSET, w.warm_requests, n_docs), cores,
            WARM_MAX_SECONDS)
        phase("warm_up")

        # ------------------------------------------------------- measure
        # closed loop first: its saturated traffic also finishes warming
        # the engine for the open loop, which gives cpu_ms_per_query
        open_s = seconds * OPEN_SHARE
        closed_s = seconds - open_s
        if trace:
            tracer.install()
        closed, peak_qps = load.closed_loop(
            http.port, w.requests(seed + CLOSED_SEED_OFFSET,
                                  int(CLOSED_MAX_QPS * closed_s), n_docs),
            cores, closed_s)
        tracer.uninstall()
        phase("closed_loop")

        reqs = w.requests(seed, int(round(w.rate_qps * open_s)), n_docs)
        jobs.take()
        sampler.mark_cpu()
        cpu0 = sampler.server_cpu_s()
        if trace:   # first half untraced, second half traced: overhead
            half = len(reqs) // 2
            plain = load.open_loop(http.port, reqs[:half], w.rate_qps)
            cpu_half = sampler.server_cpu_s()
            tracer.install()
            t_tr = time.perf_counter()
            traced = load.open_loop(http.port, _second_half(reqs, half),
                                    w.rate_qps)
            traced_wall = time.perf_counter() - t_tr
            cpu_overhead = (
                (sampler.server_cpu_s() - cpu_half) / max(len(traced), 1)
                / ((cpu_half - cpu0) / max(len(plain), 1)) - 1.0)
            opened = plain + traced
        else:
            opened = load.open_loop(http.port, reqs, w.rate_qps)
        cpu_s = sampler.server_cpu_s() - cpu0
        cpu_busy = sampler.cpu_busy_frac()
        steal = sampler.steal_frac()
        q_jobs, q_tasks = jobs.take()
    finally:
        http.stop()
        tracer.uninstall()

    phase("open_loop")
    failures = verify.check(opened + closed, gen.with_doc_ids(corpus), engine)
    engine.close()
    phase("verify")
    detail["phase_s"] = phases

    lat_ms = [o.latency_s * 1000.0 for o in opened]
    tail_q = tail_percentile(len(lat_ms))
    tail_ms = percentile(lat_ms, tail_q)
    p50_ms = percentile(lat_ms, 50)
    detail.update({
        "build_s": build_s, "open_loop_samples": len(lat_ms),
        "closed_loop_samples": len(closed), "latency_p50_ms": p50_ms,
        "latency_tail_percentile": tail_q, "latency_tail_ms": tail_ms,
        "peak_qps": peak_qps, "open_loop_server_cpu_s": cpu_s,
        "steal_frac": steal,
        "failures": failures[:20],
    })
    metrics = {
        # corpus on disk -> engine answering: the build, then the median
        # of ENGINE_OPENS engine opens over the built index
        "setup_s": (build_s + statistics.median(opens), "s"),
        "index_bytes_per_input_byte": (
            sum(table_bytes.values()) / _input_bytes(corpus), "ratio"),
        # CPU the serving side (JVM, Python workers, HTTP server and engine
        # in this process) spent per answered open-loop request: a fixed
        # set of requests at a fixed rate, so the same work on every run.
        # Wall-clock latency and throughput swing with the host's load
        # far more than this does.
        "cpu_ms_per_query": (1000.0 * cpu_s / max(len(opened), 1), "ms"),
    }
    if trace:
        metrics = _layer_metrics(
            tracer, manifest, table_bytes, n_docs / build_s, commit_s,
            (build_jobs, build_tasks), (q_jobs, q_tasks), opened, traced,
            plain, closed, cpu_busy)
        metrics.update({
            "loadgen.latency_p50_ms": (p50_ms, "ms"),
            "loadgen.latency_tail_ms": (tail_ms, "ms"),
            "loadgen.peak_qps": (peak_qps, "queries/s"),
            "proc.steal_frac": (steal, "ratio"),
            "trace.overhead_cpu": (cpu_overhead, "ratio"),
        })
        tracer.dump(os.path.join(trace_dir, f"{w.name}-seed{seed}.jsonl"))
        detail["traced_wall_s"] = traced_wall
    return {"metrics": metrics, "attempted": len(opened) + len(closed),
            "failed": len(failures), "detail": detail}


def _second_half(reqs: list[dict], half: int) -> list[dict]:
    """reqs[half:] as a list of its own: parent indexes shift down, and a
    follow-up whose parent sits in the first half becomes a page-1 query."""
    out = []
    for r in reqs[half:]:
        p = r["parent"]
        out.append(dict(r, parent=None, kind="page1") if p is not None and p < half
                   else dict(r, parent=None if p is None else p - half))
    return out


def _layer_metrics(tracer: probe.Tracer, manifest: dict, table_bytes: dict,
                   build_rate: float, commit_s: float, build_jt: tuple,
                   query_jt: tuple,
                   opened: list, traced: list, plain: list, closed: list,
                   cpu_busy: float) -> dict:
    names = tracer.by_name()

    def mean_ms(*spans: str) -> float:
        calls = sum(names.get(s, {}).get("calls", 0) for s in spans)
        total = sum(names.get(s, {}).get("total_s", 0.0) for s in spans)
        return 1000.0 * total / calls if calls else 0.0

    def ratio(num: float, den: float) -> float:
        return num / den if den else 0.0

    stages = manifest.get("metrics", {})
    out = {"build.docs_per_s": (build_rate, "files/s")}
    out.update({f"builder.stage_s.{s}": (float(stages.get(s, {}).get("seconds", 0.0)), "s")
                for s in STAGES})
    out.update({f"bytes.{t}": (float(b), "bytes") for t, b in table_bytes.items()})
    n_q = max(len(opened), 1)
    out.update({
        "spark.build_jobs": (float(build_jt[0]), "count"),
        "spark.build_tasks": (float(build_jt[1]), "count"),
        "spark.jobs_per_query": (query_jt[0] / n_q, "jobs/query"),
        "spark.tasks_per_query": (query_jt[1] / n_q, "tasks/query"),
    })
    depths = [d for _, d in tracer.batches]
    # engine time a request waited on = its batch's duration
    engine_s = sum(s * d for s, d in tracer.batches)
    client_s = sum(o.service_s for o in traced + closed)
    out.update({
        "http.queue_wait_ms": (1000.0 * ratio(client_s - engine_s,
                                              max(sum(depths), 1)), "ms"),
        "batcher.batches": (float(len(depths)), "count"),
        "batcher.mean_depth": (ratio(sum(depths), len(depths)), "requests"),
    })
    api_calls = sum(names.get(s, {}).get("calls", 0)
                    for s in ("api.search", "api.search_batch"))
    api_self = sum(names.get(s, {}).get("self_s", 0.0)
                   for s in ("api.search", "api.search_batch"))
    kr = [r for r in tracer.kernel_results if r is not None]
    blocks_total = sum(r.blocks_total for r in kr)
    out.update({
        "api.calls": (float(api_calls), "count"),
        "api.self_ms": (1000.0 * ratio(api_self, api_calls), "ms"),
        "wand.ms": (mean_ms("wand.search", "wand.search_many"), "ms"),
        "wand.driver_served_ratio": (
            ratio(sum(r.driver_served for r in kr), len(kr)), "ratio"),
        "wand.champion_served_ratio": (
            ratio(sum(r.champion_served for r in kr), len(kr)), "ratio"),
        "wand.blocks_scored_ratio": (
            ratio(sum(r.blocks_scored for r in kr), blocks_total), "ratio"),
        "driverexec.read_rows_ms": (mean_ms("driverexec.read_rows"), "ms"),
        "driverexec.row_cache_hit_ratio": (
            ratio(tracer.row_cache_hits, tracer.row_reads), "ratio"),
        "executor.term_dfs_ms": (mean_ms("executor.term_dfs"), "ms"),
        "executor.hydrate_ms": (mean_ms("executor.hydrate_ids"), "ms"),
        "ingest.commit_s": (commit_s, "s"),
        "loadgen.late_ms_p95": (
            percentile([o.late_s * 1000.0 for o in opened], 95), "ms"),
        "proc.cpu_busy_frac": (cpu_busy, "ratio"),
    })
    for q in (50, 95):
        a = percentile([o.latency_s for o in plain], q)
        b = percentile([o.latency_s for o in traced], q)
        out[f"trace.overhead_p{q}"] = (ratio(b - a, a), "ratio")
    return out
