"""Measurement probes: layer spans, Spark job counts and /proc sampling.

Spans are recorded from outside the engine by wrapping the public entry
points of its modules (see `LAYER_ENTRY_POINTS`); the package itself is
not modified. A span has a name, start, end, parent span and request id
(the id of the outermost span on its thread), is kept in memory, and is
written out once when the run ends. Self time is a span's duration minus
the durations of its child spans.
"""

from __future__ import annotations

import importlib
import itertools
import json
import os
import threading
import time
from collections import defaultdict

# (module, owner attribute or None for a module function, function, span)
LAYER_ENTRY_POINTS = (
    ("cantine_spark.httpserve", "QueryBatcher", "search", "httpserve.request"),
    ("cantine_spark.httpserve", "QueryBatcher", "_run_batch", "httpserve.batch"),
    ("cantine_spark.api", "SearchEngine", "search", "api.search"),
    ("cantine_spark.api", "SearchEngine", "search_batch", "api.search_batch"),
    ("cantine_spark.execution.wand", "FastTopK", "search", "wand.search"),
    ("cantine_spark.execution.wand", "FastTopK", "search_many", "wand.search_many"),
    ("cantine_spark.execution.driverexec", None, "read_rows", "driverexec.read_rows"),
    ("cantine_spark.execution.executor", "SearchExecutor", "term_dfs", "executor.term_dfs"),
    ("cantine_spark.execution.executor", "SearchExecutor", "hydrate_ids", "executor.hydrate_ids"),
)


class Tracer:
    """In-memory span recorder installed by monkeypatching entry points."""

    def __init__(self) -> None:
        self.spans: list[tuple] = []     # (id, parent, request, name, t0, t1)
        self.kernel_results: list = []   # wand.KernelResult of every query
        self.batches: list[tuple[float, int]] = []  # (seconds, depth)
        self.row_cache_hits = 0
        self.row_reads = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple] = []
        self._lock = threading.Lock()

    def install(self) -> None:
        for mod_name, owner_name, fn_name, span in LAYER_ENTRY_POINTS:
            mod = importlib.import_module(mod_name)
            owner = getattr(mod, owner_name) if owner_name else mod
            orig = getattr(owner, fn_name)
            setattr(owner, fn_name, self._wrap(orig, span))
            self._patches.append((owner, fn_name, orig))

    def uninstall(self) -> None:
        for owner, fn_name, orig in reversed(self._patches):
            setattr(owner, fn_name, orig)
        self._patches.clear()

    def _wrap(self, orig, span: str):
        tracer = self

        def traced(*args, **kwargs):
            stack = tracer._local.__dict__.setdefault("stack", [])
            sid = next(tracer._ids)
            parent, request = stack[-1] if stack else (None, sid)
            cached = (tracer._row_cache_ids() if span == "driverexec.read_rows"
                      else None)
            stack.append((sid, request))
            t0 = time.perf_counter()
            try:
                res = orig(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                tracer.spans.append((sid, parent, request, span, t0, t1))
            if cached is not None:
                with tracer._lock:
                    tracer.row_reads += 1
                    tracer.row_cache_hits += id(res) in cached
            if span == "wand.search":
                tracer.kernel_results.append(res)
            elif span == "wand.search_many":
                tracer.kernel_results.extend(res)
            elif span == "httpserve.batch":
                tracer.batches.append((t1 - t0, len(args[1])))
            return res

        traced.__wrapped__ = orig
        return traced

    @staticmethod
    def _row_cache_ids() -> set[int]:
        """Ids of the driver row cache's entries: a read that returns one
        of them was a cache hit."""
        from cantine_spark.execution import driverexec
        with driverexec._CACHE_LOCK:
            return {id(v) for v in driverexec._ROW_CACHE.values()}

    # ------------------------------------------------------------ analysis
    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, total seconds, self seconds."""
        child_time: dict[int, float] = defaultdict(float)
        for sid, parent, _, _, t0, t1 in self.spans:
            if parent is not None:
                child_time[parent] += t1 - t0
        out: dict[str, dict] = defaultdict(lambda: {"calls": 0, "total_s": 0.0,
                                                    "self_s": 0.0})
        for sid, _, _, name, t0, t1 in self.spans:
            agg = out[name]
            agg["calls"] += 1
            agg["total_s"] += t1 - t0
            agg["self_s"] += max(0.0, (t1 - t0) - child_time[sid])
        return dict(out)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, parent, request, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent,
                                    "request": request, "name": name,
                                    "start": t0, "end": t1}) + "\n")


class SparkCounter:
    """Jobs and tasks the Spark scheduler ran between two marks."""

    def __init__(self, sc) -> None:
        self._st = sc.statusTracker()
        self._seen = self._job_ids()

    def _job_ids(self) -> set[int]:
        return set(self._st.getJobIdsForGroup(None))

    def take(self) -> tuple[int, int]:
        """(jobs, tasks) finished since the previous take."""
        now = self._job_ids()
        new = now - self._seen
        self._seen = now
        tasks = 0
        for jid in new:
            info = self._st.getJobInfo(jid)
            for sid in (info.stageIds if info else ()):
                stage = self._st.getStageInfo(sid)
                if stage is not None:
                    tasks += stage.numCompletedTasks
        return len(new), tasks


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a sum over a
    process tree counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _cpu_times() -> tuple[int, int, int]:
    """Machine-wide (busy, steal, total) clock ticks."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals) - idle, steal, sum(vals)


def tree_cpu_s() -> float:
    """CPU seconds used by this process and all its descendants, including
    descendants that already exited and were reaped (their time is in the
    parent's cutime/cstime). Time the host stole from this machine's
    virtual CPUs is not charged to processes, so a busy neighbour on the
    host stretches this sum far less than it stretches wall-clock time;
    it still slows each instruction."""
    me = os.getpid()
    ticks = 0
    for p in [me, *descendants(me)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        ticks += sum(int(v) for v in fields[11:15])   # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


class ProcSampler:
    """Peak resident memory (PSS) of this process plus its JVM and Python
    workers, and machine CPU busy and steal shares between marks."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.peak_bytes = 0
        self.own_cpu_s = 0.0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._cpu_mark = _cpu_times()

    def start(self) -> "ProcSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self._interval):
            total = sum(_pss_bytes(p) for p in [me, *descendants(me)])
            self.peak_bytes = max(self.peak_bytes, total)
            self.own_cpu_s = time.thread_time()

    def server_cpu_s(self) -> float:
        """CPU seconds of this process tree, less those of the calling
        thread, which runs the load generator, and of this sampler."""
        return tree_cpu_s() - time.thread_time() - self.own_cpu_s

    def mark_cpu(self) -> None:
        self._cpu_mark = _cpu_times()

    def cpu_busy_frac(self) -> float:
        busy0, _, total0 = self._cpu_mark
        busy1, _, total1 = _cpu_times()
        return (busy1 - busy0) / max(total1 - total0, 1)

    def steal_frac(self) -> float:
        """Share of this machine's CPU time the host gave to others since
        the mark: a neighbour's load, which stretches wall-clock times."""
        _, steal0, total0 = self._cpu_mark
        _, steal1, total1 = _cpu_times()
        return (steal1 - steal0) / max(total1 - total0, 1)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
