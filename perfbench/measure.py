"""Measurement plumbing: spans and self time, percentiles, Spark's own
metrics by job group, host-noise annotation, memory and CPU pinning.

Spans are recorded by the benchmark around its calls into engine modules;
nothing inside the engine is instrumented. They stay in memory and are
written out when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import re
import statistics
import threading
import time
import urllib.request
from contextlib import contextmanager


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------

def median(values) -> float:
    return float(statistics.median(values))


def tail(values, beyond: int = 10):
    """(percentile, value) of the highest whole percentile that leaves at
    least ``beyond`` samples above it (nearest-rank), or None when the
    sample is too small for any percentile at or above the median."""
    n = len(values)
    if n == 0:
        return None
    p = math.floor(100 * (n - beyond) / n)
    if p < 50:
        return None
    rank = math.ceil(p * n / 100)
    return p, float(sorted(values)[rank - 1])


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory span recorder. ``enabled=False`` records nothing, so the
    untraced runs pay only a context-manager call per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent]["op"]
        rec = {"id": len(self.spans), "name": name, "layer": layer,
               "op": op, "parent": parent, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[dict]) -> dict:
    """Seconds per layer: each span's duration minus the part of it that
    its child spans cover, summed by layer."""
    children: dict = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict = {}
    for s in spans:
        own = (s["end"] - s["start"]) - _covered(children.get(s["id"], []))
        out[s["layer"]] = out.get(s["layer"], 0.0) + own
    return out


# ---------------------------------------------------------------------------
# Spark's own metrics, read by job group from the local UI REST endpoint
# ---------------------------------------------------------------------------

_UNITS = {"ms": 1.0, "s": 1000.0, "m": 60000.0, "h": 3600000.0,
          "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
          "TiB": 1024.0 ** 4}
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """SQL UI metric string -> number in ms, bytes or a plain count. Task
    metrics read 'total (min, med, max ...)\\n<total> (<min>, ...)'; the
    total is taken."""
    line = text.split("\n")[-1]
    m = _VALUE.match(line)
    if m is None:
        raise ValueError(f"unparsed metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "", 1.0)


class SparkMetrics:
    """Per-job-group reader of Spark's SQL-node and stage metrics."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.sc = sc
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._sql = None

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def nodes(self, group: str) -> list[tuple]:
        """(node name, {metric: value}) of every SQL node of every execution
        that ran a job of ``group``. The execution list is fetched once, so
        read only after the run's last action."""
        jobs = set(self.job_ids(group))
        if self._sql is None:
            self._sql = self._get("/sql?details=true&planDescription=false&length=100000")
        out = []
        for ex in self._sql:
            if jobs & set(ex.get("successJobIds", []) + ex.get("failedJobIds", [])):
                for n in ex.get("nodes", []):
                    out.append((n["nodeName"], {m["name"]: parse_metric(m["value"])
                                                for m in n.get("metrics", [])}))
        return out

    def node_sum(self, group: str, node_prefix: str, metric: str) -> float:
        return sum(m.get(metric, 0.0) for name, m in self.nodes(group)
                   if name.startswith(node_prefix))

    def stages(self, group: str) -> list[dict]:
        out = []
        for j in self.job_ids(group):
            for sid in self._get(f"/jobs/{j}")["stageIds"]:
                for st in self._get(f"/stages/{sid}"):
                    if st["status"] == "COMPLETE":
                        out.append(st)
        return out

    def task_quantiles(self, stage: dict) -> list[float]:
        """Task executor run time (ms) at quantiles 0, 0.5 and 1."""
        q = self._get(f"/stages/{stage['stageId']}/{stage['attemptId']}"
                      "/taskSummary?quantiles=0,0.5,1.0")
        return q["executorRunTime"]


# ---------------------------------------------------------------------------
# host-noise annotation
# ---------------------------------------------------------------------------

def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat line."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(start: tuple, end: tuple) -> float:
    return 100.0 * (end[1] - start[1]) / max(end[0] - start[0], 1)


def calibration_ms(reps: int = 3) -> float:
    """Fastest of ``reps`` runs of a fixed pure-Python integer loop: a
    reading of how fast one core of the host is right now."""
    best = math.inf
    for _ in range(reps):
        t = time.perf_counter()
        acc = 0
        for i in range(300_000):
            acc = (acc + i * i) % 1000003
        best = min(best, time.perf_counter() - t)
    return best * 1000.0


# ---------------------------------------------------------------------------
# processes: resident memory and CPU pinning of the Spark JVM tree
# ---------------------------------------------------------------------------

def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants (parent links from /proc)."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    # the command name may hold spaces; fields resume after ')'
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(c for c, pp in parent.items() if pp == p)
    return out


def _stat_fields(path: str) -> tuple:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as f:
        head, rest = f.read().rsplit(")", 1)
    return head.split("(", 1)[1], rest.split()


def cpu_ticks(pid: int) -> int:
    """utime + stime of ``pid`` plus those of its reaped children, in clock
    ticks (0 for a process that is gone)."""
    try:
        return sum(int(v) for v in _stat_fields(f"/proc/{pid}/stat")[1][11:15])
    except OSError:
        return 0


# JIT compiler threads: their work is start-up cost that fades as the
# session warms, and it dominated the run-to-run spread of per-op CPU time
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


class CpuClock:
    """CPU seconds used by the Spark JVM's process tree (its Python workers
    included, its JIT compiler threads not) plus this process's calling
    thread. It grows far less than wall time while other tenants hold the
    host's CPUs (measured: about +20% CPU against +80% wall under 10-15%
    hypervisor steal), though it is not immune to them.

    The JVM starts and stops compiler threads as load changes, and a
    process's total keeps the time of its exited threads, so the last
    reading of every compiler thread ever seen is kept and subtracted."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")
        self._jit: dict = {}

    def _jit_ticks(self) -> int:
        try:
            tids = os.listdir(f"/proc/{self.jvm_pid}/task")
        except OSError:
            tids = []
        for tid in tids:
            try:
                name, f = _stat_fields(f"/proc/{self.jvm_pid}/task/{tid}/stat")
            except OSError:
                continue
            if name.startswith(JIT_THREADS):
                self._jit[tid] = int(f[11]) + int(f[12])
        return sum(self._jit.values())

    def __call__(self) -> float:
        tree = process_tree(self.jvm_pid)
        ticks = sum(cpu_ticks(p) for p in tree) - self._jit_ticks()
        return ticks / self.tick + time.thread_time()


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed resident memory of the benchmark process, the Spark JVM
    and the JVM's Python workers, sampled every ``period`` seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.2):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = [os.getpid()] + process_tree(self.jvm_pid)
        self.peak = max(self.peak, sum(rss_bytes(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
        return False


def heap_peak_used(spark) -> int:
    """Sum of the Spark JVM's heap pools' peak used bytes since it started.
    The pools peak at different moments, so the sum bounds the heap's peak
    use from above."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return int(sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
                   if p.getType().name() == "HEAP"))


def pin(pids: list[int], cpus: set) -> None:
    """Set the CPU affinity of every thread of every process in ``pids``.
    Threads and processes started later inherit it from their creator."""
    for pid in pids:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                os.sched_setaffinity(int(tid), cpus)
            except OSError:  # the thread ended between listing and pinning
                pass
