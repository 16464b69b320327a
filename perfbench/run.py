"""cantine_spark serving benchmark — one workload per invocation.

    python3 perfbench/run.py --workload serve_tail --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run generates its corpus and
queries from --seed, builds an index on `local[nproc]`, serves it over
HTTP, measures for --seconds, checks every answer, and prints one JSON
line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 prints the end-to-end metrics; --trace 1 prints the per-layer
metrics (spans are also written to .perfbench_traces/). --smoke runs the
workload on a tiny corpus. Details (session sizing, sample counts,
per-workload records, failures) go to stderr as one JSON line.

All files are written under the checkout (.perfbench_work/, removed at
exit). Exit codes: 0 result printed; 2 not a source checkout; 3 set-up
failure (the JVM did not start); 4 the run overran its time limit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JVM_START_TIMEOUT_S = 120.0
RUN_LIMIT_S = 175.0


def _kill_tree(pids: list[int], wait_s: float = 10.0) -> None:
    """SIGTERM, wait, SIGKILL leftovers, and wait until all have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while time.monotonic() < deadline:
            pids = [p for p in pids if not _ended(p)]
            if not pids:
                return
            time.sleep(0.1)


def _ended(pid: int) -> bool:
    """True once a process has exited with all its threads: reaped here if
    it is a child of this process, else gone or a zombie with no thread
    left. (A JVM's main thread shows as a zombie while its other threads
    still run its shutdown.)"""
    try:
        if os.waitpid(pid, os.WNOHANG)[0]:
            return True
    except ChildProcessError:
        pass                      # not a child, or already reaped
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        return (stat[stat.rindex(")") + 2] == "Z"
                and len(os.listdir(f"/proc/{pid}/task")) <= 1)
    except OSError:
        return True


def session_sizing(work: str) -> dict:
    """Cores = nproc; driver heap = a quarter of RAM, at most 2 GiB."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    heap_mb = max(1024, min(2048, total_kb // 1024 // 4))
    return {"cores": cores, "SPARK_DRIVER_MEM": f"{heap_mb}m",
            "SPARK_DRIVER_JAVA_OPTS": ("-XX:+UseParallelGC "
                                       f"-Djava.io.tmpdir={work}/tmp")}


def start_spark(sizing: dict, work: str):
    """get_spark with the serving conf; raises on a JVM that does not come
    up within JVM_START_TIMEOUT_S instead of hanging."""
    os.environ["SPARK_DRIVER_MEM"] = sizing["SPARK_DRIVER_MEM"]
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = sizing["SPARK_DRIVER_JAVA_OPTS"]
    from cantine_spark.session import get_spark

    box: dict = {}

    def boot() -> None:
        try:
            box["spark"] = get_spark(
                "perfbench", cores=sizing["cores"],
                shuffle_partitions=sizing["cores"],
                extra_conf={"spark.scheduler.mode": "FAIR",
                            "spark.python.worker.reuse": "true",
                            "spark.local.dir": f"{work}/spark-local",
                            "spark.ui.showConsoleProgress": "false"})
        except Exception as e:  # noqa: BLE001 — reported as set-up failure
            box["error"] = e

    t = threading.Thread(target=boot, daemon=True)
    t.start()
    t.join(JVM_START_TIMEOUT_S)
    if t.is_alive():
        raise RuntimeError(f"JVM did not start within {JVM_START_TIMEOUT_S}s")
    if "error" in box:
        raise RuntimeError(f"JVM failed to start: {box['error']!r}")
    spark = box["spark"]
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny corpus, for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cantine_spark", "__init__.py")):
        print(f"perfbench: no cantine_spark package under {ROOT}; run from a "
              "source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import probe
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]

    work = os.path.join(ROOT, ".perfbench_work", f"{w.name}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # Python workers import cantine_spark from this checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

    def overrun() -> None:
        print(f"perfbench: run exceeded {RUN_LIMIT_S}s", file=sys.stderr)
        _kill_tree(probe.descendants(os.getpid()), 5.0)
        shutil.rmtree(work, ignore_errors=True)
        os._exit(4)

    # SIGTERM unwinds through the cleanup below instead of orphaning the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    watchdog = threading.Timer(RUN_LIMIT_S, overrun)
    watchdog.daemon = True
    watchdog.start()
    sampler = probe.ProcSampler().start()
    sizing = session_sizing(work)
    spark = None
    try:
        t0 = time.perf_counter()
        try:
            spark = start_spark(sizing, work)
        except RuntimeError as e:
            print(f"perfbench: set-up failure: {e}", file=sys.stderr)
            return 3
        sizing["session_start_s"] = time.perf_counter() - t0
        out = workloads.run(spark, w, args.seed, args.seconds,
                            bool(args.trace), args.smoke, work,
                            os.path.join(ROOT, ".perfbench_traces"), sampler)
    finally:
        try:
            if spark is not None:
                spark.stop()
        finally:
            sampler.stop()
            _kill_tree(probe.descendants(os.getpid()))
            shutil.rmtree(work, ignore_errors=True)
            watchdog.cancel()

    metrics = out["metrics"]
    if not args.trace:
        metrics["peak_rss_mb"] = (sampler.peak_bytes / 2**20, "MB")
    out["detail"]["session"] = sizing
    print("perfbench detail: " + json.dumps(out["detail"], default=str),
          file=sys.stderr)
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
